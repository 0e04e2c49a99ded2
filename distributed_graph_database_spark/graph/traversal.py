"""Iterative graph traversal — the engine's one genuinely custom operator.

Reference semantics being re-expressed (SURVEY.md §2.1):
- R5 BFS (dfs_bfs.h:111-172): level-order traversal; levels serial,
  within-level unordered (thread-race order). Spark restatement:
  level(v) = min hops from start; canonical order (level, vid).
- R4 DFS (dfs_bfs.h:42-90): output = terminal vertices of the
  traversal tree (vertices that had no unvisited neighbor when
  reached). Deterministic refinement (SURVEY.md §7.3): traversal tree
  = BFS tree with parent(v) = min-vid neighbor at level(v)-1; leaves
  = reachable vertices with no child in that tree. Equals the
  reference's path-terminal set on forests (its guaranteed input
  class, Assignment 2.pdf p.4).
- R6 visited-set dedup (dfs_bfs.h:48,100-105) becomes per-round
  left_anti set algebra, not a mutable bitmap.
- R7 frontier queue (dfs_bfs.h:102-104,126-135): the per-round join
  result IS the next frontier.

Two arms, chosen by one size gate (LOCAL_MAX_EDGES) that bfs_levels
checks by collecting at most LOCAL_MAX_EDGES + 1 edge rows in one job:

- Local arm: an edge set that fits the gate is traversed in the
  driver and the result comes back as an Arrow-built LocalRelation,
  so callers still get a DataFrame. The reference's graphs (n ≤ 30,
  so at most 900 symmetric rows) live here: on a dataflow engine a
  distributed BFS pays a fixed number of jobs per superstep (GraphX,
  OSDI'14), ~44 jobs for a 30-vertex read, to touch under 900 rows.
  The tree/leaves and bfs_order formatters take the same arm when
  their levels input is a LocalRelation.
- Distributed arm, above the gate: each BFS round is one
  `frontier ⋈ edges` stage — the reference's per-level thread barrier
  (dfs_bfs.h:143-160) maps to Spark's per-round shuffle/stage
  boundary. The frontier is broadcast while small (no shuffle of the
  big edge side at all); `visited` accumulates and is
  localCheckpoint-ed every round to truncate lineage (the GraphX
  iterative pattern). Edges are cached once so 100 TB of parquet
  isn't re-scanned per round.

The gate sits between the reference's 900 rows and the 30k-row
customer–order graph the sf0.01 oracle tests run on, so each traffic
takes exactly one arm and both are under test. Above the gate the
only added cost is the one limit probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Broadcast the frontier while its estimated serialized size is below
# this many bytes; beyond it, fall back to a shuffle join (AQE may
# still convert at runtime). Gate on BYTES, not rows (VERDICT r6 item
# 5: the old 5M-row gate allowed ~40-80 MB broadcasts, well past
# Spark's 8 MB autoBroadcast comfort zone and a per-executor OOM risk
# at cluster fan-out). At 100 TB a frontier can be billions of rows —
# never unconditionally broadcast.
BROADCAST_FRONTIER_MAX_BYTES = 32 * 1024 * 1024
# Estimated wire size of one frontier COLUMN cell (fixed-width slot in
# Spark's UnsafeRow) plus per-row framing; the per-row estimate is
# derived from the frontier's actual schema width so a wider frontier
# can't silently slip under the byte gate (ADVICE r7: the old flat
# 16-byte constant assumed a single-bigint frontier).
FRONTIER_CELL_BYTES = 8
FRONTIER_ROW_OVERHEAD_BYTES = 8


def _frontier_probe(frontier: DataFrame, frontier_rows: int) -> DataFrame:
    """Broadcast the frontier only while its estimated bytes fit the
    gate; otherwise return it untouched for a shuffle join."""
    row_bytes = (
        FRONTIER_ROW_OVERHEAD_BYTES
        + FRONTIER_CELL_BYTES * len(frontier.schema)
    )
    if frontier_rows * row_bytes <= BROADCAST_FRONTIER_MAX_BYTES:
        return F.broadcast(frontier)
    return frontier

# Shared round bound: the Spark loop and the DuckDB recursive-CTE
# oracle both derive from this one constant (oracles.py interpolates
# it), so neither side can silently under-explore deep graphs.
MAX_LEVELS_DEFAULT = 100

# Bounded formatter cap for bfs_order (see bfs_order docstring).
BFS_ORDER_MAX_VERTICES = 100_000

START_NOT_PRESENT_MSG = "Starting vertex not present in graph"

# Size gate between the two arms (module docstring): edge sets of at
# most this many rows are traversed in the driver. Must stay ≥ 900
# (the reference's n ≤ 30 ⇒ n² symmetric rows) and < 30 000 (the
# sf0.01 derived graph), so each traffic takes exactly one arm.
LOCAL_MAX_EDGES = 10_000

_LEVELS_SCHEMA = "vid bigint, level int"


def _local_edges(edges_sym: DataFrame) -> list | None:
    """The (src, dst) rows if there are at most LOCAL_MAX_EDGES of them,
    else None. One single-task job; the gate probe of every arm choice."""
    probe = edges_sym.select("src", "dst").coalesce(1).limit(LOCAL_MAX_EDGES + 1)
    rows = probe.collect()
    return rows if len(rows) <= LOCAL_MAX_EDGES else None


def _local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver-side rows → DataFrame over a LocalRelation. Built from
    pandas so Arrow ships it as one local relation; a list input would
    become a multi-slice pickled RDD that costs jobs on every action."""
    import pandas as pd

    names = [c.split()[0] for c in schema.split(",")]
    # object dtype: ids stay exact Python ints and None stays null
    # (a float64 column would round ids above 2**53).
    pdf = pd.DataFrame(rows, columns=names, dtype=object)
    return spark.createDataFrame(pdf, schema)


def _levels_local(edges: list, start: int, max_levels: int, validate: bool) -> list:
    """bfs_levels' loop in the driver: same rounds, same cap, same
    validation message."""
    adj: dict[int, set] = {}
    for src, dst in edges:
        adj.setdefault(src, set()).add(dst)
    if validate and start not in adj:
        raise ValueError(START_NOT_PRESENT_MSG)
    levels = {start: 0}
    frontier = {start}
    level = 0
    while frontier and level < max_levels:
        level += 1
        frontier = {d for v in frontier for d in adj.get(v, ()) if d not in levels}
        levels.update(dict.fromkeys(frontier, level))
    return list(levels.items())


def bfs_levels(
    spark: SparkSession,
    edges_sym: DataFrame,
    start: int,
    max_levels: int = MAX_LEVELS_DEFAULT,
    cache_edges: bool = True,
    validate: bool = False,
) -> DataFrame:
    """Minimum-hop level per reachable vertex → (vid bigint, level int).

    An edge set within LOCAL_MAX_EDGES is traversed in the driver
    (module docstring). Above it, a driver-side loop of DataFrame ops:
    each round's (small) frontier is localCheckpoint-ed once; the
    cumulative visited set is kept as the
    *union of per-round checkpointed frames* rather than re-
    materialized every round — re-checkpointing the cumulative set is
    O(V·D) copy work at scale (the round-1 shape), whereas the frame
    union only ever checkpoints each vertex once. The anti-join probe
    sees a union of ≤ diameter tiny checkpointed plans, which Catalyst
    collapses fine for any realistic diameter.

    validate=True enforces the reference's R10 bounds check
    (secondary_server.c:187-188): unknown start ⇒ ValueError with the
    reference's message.
    """
    local = _local_edges(edges_sym)
    if local is not None:
        return _local_frame(
            spark, _levels_local(local, start, max_levels, validate), _LEVELS_SCHEMA
        )
    if validate and not _start_in_graph(edges_sym, start):
        raise ValueError(START_NOT_PRESENT_MSG)

    if cache_edges:
        edges_sym = edges_sym.persist()
    try:
        # One slice at creation: the default 32-slice parallelize makes
        # every action on the root (and anything unioned with it) carry
        # 32 near-empty Python-pickled partitions (ops.py _read_result
        # documents the measured cost).
        root = spark.createDataFrame(
            spark.sparkContext.parallelize([(start, 0)], 1), _LEVELS_SCHEMA
        )
        frames = [root.localCheckpoint(eager=True)]
        visited = frames[0]
        frontier = visited.select("vid")
        frontier_rows = 1

        level = 0
        while level < max_levels:
            level += 1
            probe = _frontier_probe(frontier, frontier_rows)
            nxt = (
                probe.join(edges_sym, probe.vid == edges_sym.src)
                .select(F.col("dst").alias("vid"))
                .distinct()
                .join(visited, "vid", "left_anti")
                .withColumn("level", F.lit(level).cast("int"))
            )
            # Lazy checkpoint: the emptiness-probe count right below is
            # the materializing action, so each BFS round runs one job
            # (checkpoint write + count) instead of two (r14, the CC
            # fingerprint fold).
            nxt = nxt.localCheckpoint(eager=False)
            frontier_rows = nxt.count()
            if frontier_rows == 0:
                break
            frames.append(nxt)
            visited = frames[0]
            for f in frames[1:]:
                visited = visited.unionByName(f)
            frontier = nxt.select("vid")
        return visited
    finally:
        if cache_edges:
            edges_sym.unpersist()


def _start_in_graph(edges_sym: DataFrame, start: int) -> bool:
    return not edges_sym.filter(F.col("src") == F.lit(start)).isEmpty()


def reachable_vertices(
    spark: SparkSession, edges_sym: DataFrame, start: int, **kw
) -> DataFrame:
    """Transitive closure from start (R4/R5 common core) → (vid)."""
    return bfs_levels(spark, edges_sym, start, **kw).select("vid")


def bfs_order(spark: SparkSession, edges_sym: DataFrame, start: int, **kw) -> DataFrame:
    """R5+R9: traversal output as one space-separated string, canonical
    order (level, vid). The reference's formatter (secondary_server.c:
    223-226) corrupted 2-digit ids — ours is correct for any id
    (SURVEY.md §4.3).

    Explicitly BOUNDED presentation op: the aggregate runs over the
    first BFS_ORDER_MAX_VERTICES rows in (level, vid) order, taken via
    orderBy+limit (TakeOrderedAndProject: per-partition heaps, driver
    merges ≤ cap rows — no single-task global collect of an unbounded
    set, which was the round-1 scale hazard). On the local arm the
    levels are bounded by the gate (at most LOCAL_MAX_EDGES + 1 rows)
    and formatted in the driver under the same cap. The oracle applies
    the identical LIMIT, so results match at every sf.
    """
    return bfs_order_from_levels(bfs_levels(spark, edges_sym, start, **kw))


def bfs_order_from_levels(levels: DataFrame) -> DataFrame:
    """bfs_order over precomputed (vid, level) rows — the formatter
    half of bfs_order, reusable when levels are already materialized.

    Levels held in a LocalRelation are formatted in the driver: Catalyst
    drops the limit over a relation smaller than the cap, and the
    remaining global sort would cost a range-partitioning job pair."""
    if levels.isLocal():
        order = sorted(levels.select("level", "vid").collect())
        text = " ".join(str(v) for _, v in order[:BFS_ORDER_MAX_VERTICES])
        return _local_frame(levels.sparkSession, [(text,)], "bfs_order string")
    lv = levels.orderBy("level", "vid").limit(BFS_ORDER_MAX_VERTICES)
    return lv.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("level", "vid"))),
                lambda s: s.vid.cast("string"),
            ),
            " ",
        ).alias("bfs_order")
    )


def bfs_tree(
    spark: SparkSession, edges_sym: DataFrame, start: int, **kw
) -> DataFrame:
    """Deterministic traversal tree: (vid, level, parent) with
    parent(v) = min-vid neighbor of v at level(v)-1 (start has none).
    """
    return bfs_tree_from_levels(bfs_levels(spark, edges_sym, start, **kw), edges_sym)


def bfs_tree_from_levels(lv: DataFrame, edges_sym: DataFrame) -> DataFrame:
    tree = _tree_local(lv, edges_sym)
    if tree is not None:
        schema = "vid bigint, level int, parent bigint"
        return _local_frame(lv.sparkSession, tree, schema)
    return _tree_distributed(lv, edges_sym)


def _tree_local(lv: DataFrame, edges_sym: DataFrame) -> list | None:
    """bfs_tree_from_levels' rows computed in the driver, or None when
    the levels are not a LocalRelation or the edges exceed the gate."""
    if not lv.isLocal():
        return None
    edges = _local_edges(edges_sym)
    if edges is None:
        return None
    levels = lv.select("vid", "level").collect()
    levels_of: dict[int, set] = {}
    for v, level in levels:
        levels_of.setdefault(v, set()).add(level)
    parent: dict[tuple[int, int], int] = {}
    for src, dst in edges:
        for level in levels_of.get(dst, ()):
            if level - 1 in levels_of.get(src, ()):
                key = (dst, level)
                parent[key] = min(parent.get(key, src), src)
    roots = [(v, 0, None) for v, level in levels if level == 0]
    return roots + [(v, level, p) for (v, level), p in parent.items()]


def _tree_distributed(lv: DataFrame, edges_sym: DataFrame) -> DataFrame:
    child = lv.alias("c")
    parent = lv.alias("p")
    e = edges_sym.alias("e")
    tree = (
        child.join(e, F.col("c.vid") == F.col("e.dst"))
        .join(
            parent,
            (F.col("e.src") == F.col("p.vid"))
            & (F.col("p.level") == F.col("c.level") - F.lit(1)),
        )
        .groupBy(F.col("c.vid").alias("vid"), F.col("c.level").alias("level"))
        .agg(F.min(F.col("e.src")).alias("parent"))
    )
    root = lv.filter(F.col("level") == 0).select(
        "vid", "level", F.lit(None).cast("bigint").alias("parent")
    )
    return root.unionByName(tree)


def dfs_leaves(spark: SparkSession, edges_sym: DataFrame, start: int, **kw) -> DataFrame:
    """R4 terminal-vertex set (dfs_bfs.h:71-77 `!tidx` test): reachable
    vertices that parent no one in the deterministic traversal tree.
    A start with no neighbors is its own terminal (FIXTURES.md G6).
    """
    return dfs_leaves_from_levels(
        bfs_levels(spark, edges_sym, start, **kw), edges_sym
    )


def dfs_leaves_from_levels(lv: DataFrame, edges_sym: DataFrame) -> DataFrame:
    tree = _tree_local(lv, edges_sym)
    if tree is not None:
        parents = {p for _, _, p in tree}
        leaves = [(v,) for v, _, _ in tree if v not in parents]
        return _local_frame(lv.sparkSession, leaves, "vid bigint")
    tree = _tree_distributed(lv, edges_sym)
    parents = tree.filter(F.col("parent").isNotNull()).select(
        F.col("parent").alias("vid")
    )
    return tree.select("vid").join(parents, "vid", "left_anti").select("vid")


def connected_components(
    spark: SparkSession,
    edges_sym: DataFrame,
    max_rounds: int = MAX_LEVELS_DEFAULT,
    stars_per_check: int = 1,
) -> DataFrame:
    """Connected components → (vid bigint, comp bigint) with comp =
    min vid of the component. See connected_components_with_rounds."""
    return connected_components_with_rounds(
        spark, edges_sym, max_rounds, stars_per_check
    )[0]


def _large_star(edge_pairs: DataFrame) -> DataFrame:
    """Kiveris et al. large-star: for every vertex u, point each
    strictly-larger neighbor at m(u) = min(Γ(u) ∪ {u}). Input/output
    edges canonical (u > v). Output may carry duplicates — the caller's
    small-star aggregates/dedups them."""
    sym = edge_pairs.union(
        edge_pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    # v > u ≥ m, so outputs stay canonical and are never self-loops.
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edge_pairs: DataFrame) -> DataFrame:
    """Kiveris et al. small-star: for every vertex u, point u and all
    its (smaller, by canonical form) neighbors at m(u) = min(Γ(u) ∪
    {u}). Input canonical (u > v) ⇒ m = min neighbor; output canonical
    and deduplicated (it is the new iteration state)."""
    mins = edge_pairs.groupBy("u").agg(F.min("v").alias("m"))
    return (
        edge_pairs.join(mins, "u")
        .select(F.col("v").alias("x"), "m")
        .union(mins.select(F.col("u").alias("x"), "m"))
        .filter(F.col("x") != F.col("m"))
        .select(F.col("x").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def connected_components_with_rounds(
    spark: SparkSession,
    edges_sym: DataFrame,
    max_rounds: int = MAX_LEVELS_DEFAULT,
    stars_per_check: int = 1,
) -> tuple[DataFrame, int]:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) → ((vid, comp) labels, rounds used).

    Each round rewires edges toward per-neighborhood minima while
    provably preserving connectivity; the fixed point is a star per
    component centered at its minimum vertex, reached in O(log d)
    rounds — vs O(diameter) for hash-min label propagation (the
    round-2 implementation this replaces: a 100×-deeper graph cost
    100× more *rounds*, each a full-edge-set shuffle). Star centers
    then label their spokes directly; vertices with no non-loop edges
    are their own component.

    Convergence = the canonical edge state reproducing itself, checked
    by (count, BIT_XOR xxhash64(u,v)) fingerprint — one tiny aggregate
    action per round on the already-checkpointed state. Exhausting
    max_rounds without a fixed point raises (the recursive-CTE oracle
    always computes the full closure, so returning unconverged labels
    would be a silent parity divergence — ADVICE r2).

    `stars_per_check` (r11, the checkpoint-granularity discipline):
    how many large+small star pairs run between checkpoint+fingerprint
    actions. Results are IDENTICAL for any value — a fixed point is
    invariant under extra star applications (property-tested). The
    r11 measured A/B (VERDICT r10 #5, all five CC clients, sf0.1 AND
    sf1, same-session medians): 2 LOSES everywhere — wall time
    1.3–2.3× worse and job count HIGHER (e.g. mm_audio_clusters 60→72
    jobs, 7.1→10.5 s sf0.1; graph_components 8.5→17.2 s sf1), because
    AQE splits the deeper unchecked plan into MORE stage-jobs and the
    possibly-wasted extra pair doubles the shuffled volume per check.
    Default 1 is the measured optimum; the knob stays as the committed
    record of the experiment (BASELINE.md r11 disposition row).
    """
    verts = (
        edges_sym.select(F.col("src").alias("vid"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Lazy checkpoint + fingerprint fold (r14, VERDICT r13 next #5):
    # localCheckpoint(eager=False) plans/truncates lineage immediately
    # but materializes on the FIRST action — which is the convergence
    # fingerprint aggregate right below it. One job per round now
    # both writes the round's state blocks and reads the fingerprint,
    # where the eager form paid a separate checkpoint action per round
    # (2 actions/round → 1; rows, rounds and labels are bit-identical
    # — the plan is unchanged, only when it runs).
    state = (
        edges_sym.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    fp = state.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("s"),
    ).first()
    rounds = 0
    converged = fp["n"] == 0
    while not converged and rounds < max_rounds:
        rounds += 1
        s = state
        for _ in range(stars_per_check):
            s = _small_star(_large_star(s))
        state = s.localCheckpoint(eager=False)
        new_fp = state.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("s"),
        ).first()
        converged = (new_fp["n"], new_fp["s"]) == (fp["n"], fp["s"])
        fp = new_fp
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    labels = (
        verts.join(
            state.select(F.col("u").alias("vid"), F.col("v").alias("comp")),
            "vid",
            "left",
        )
        .select("vid", F.coalesce("comp", "vid").alias("comp"))
    )
    return labels, rounds


def neighbors_1hop(edges_sym: DataFrame, start: int) -> DataFrame:
    """Single expansion step (the adjacency row a traversal scans,
    dfs_bfs.h:57,99) → (vid)."""
    return (
        edges_sym.filter(F.col("src") == F.lit(start))
        .select(F.col("dst").alias("vid"))
        .distinct()
    )


def vertex_degree(edges_sym: DataFrame) -> DataFrame:
    """Degree per vertex = adjacency-row sum → (vid, degree).

    Self-loops count once (symmetrize() emits a loop once — it skips
    the reverse copy for src==dst — matching the reference's matrix
    row-sum, which sees one diagonal 1). Isolated vertices have no
    edge row and therefore no output row; callers needing degree-0
    rows left-join against a vertices frame with coalesce(degree, 0).
    """
    return edges_sym.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def graph_stats(
    graph_ids: DataFrame, vertices: DataFrame, edges: DataFrame
) -> DataFrame:
    """Catalog view over all graphs (reference: ≤20 matrix files;
    n = file line 1) → (graph_id, n_vertices, n_edges). The graph-id
    catalog is the base so empty graphs (G4, n=0) get a zero row and
    isolated vids (G6) count via `vertices`.
    """
    v = vertices.groupBy("graph_id").agg(
        F.countDistinct("vid").alias("n_vertices")
    )
    e = edges.groupBy("graph_id").agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        graph_ids.join(v, "graph_id", "left")
        .join(e, "graph_id", "left")
        .select(
            "graph_id",
            F.coalesce(F.col("n_vertices"), F.lit(0)).cast("bigint").alias("n_vertices"),
            F.coalesce(F.col("n_edges"), F.lit(0)).cast("bigint").alias("n_edges"),
        )
    )


def validate_start(vertices_one_graph: DataFrame, start: int) -> bool:
    """R10 bounds check (secondary_server.c:187-188): start must be a
    vertex of the graph, else "Starting vertex not present in graph".
    """
    return not vertices_one_graph.filter(F.col("vid") == F.lit(start)).isEmpty()
