"""Adjacency-matrix text source + parquet graph store.

Reference lineage (SURVEY.md §2.1 R1-R3):
- R1 scan: `Gx.txt` = line 1 the vertex count n, then n rows of n
  space-separated 0/1 ints (parse loop secondary_server.c:119-153,
  format Assignment 2.pdf p.2; G4 shows the n=0 degenerate case).
- R2 sink (op 1 "add"): serialize to a NEW file — primary_server.c:
  111-152, fopen mode "w"; must-not-exist gated at client.c:43-44.
- R3 overwrite (op 2 "modify"): whole-file truncate-and-rewrite of an
  existing graph — same serialize loop; the parquet analogue is a
  dynamic partition overwrite of that graph_id only.

Spark-first shape: matrix files are ingested with `wholetext` (one row
per file — a graph's matrix is one record by construction), then ONE
generator unpacks each file into its edges JVM-side: a nested
`transform` over (line, row index) and (cell, column index) keeps the
upper-triangle 1-cells as (src, dst) structs, and a single `inline`
emits them as columns. The write path is this parse plus a count and
is bound by fixed per-query cost, not data: the parse is one
projection analysed in one pass (not a posexplode per level plus
filters), and an input smaller than Spark's per-file open cost is
parsed in one task, so the count needs one job and no shuffle. Larger
inputs keep per-file parallelism, which scales to millions of graph
files; matrix contents are parsed on the executors, never in the
driver. The canonical store is parquet partitioned by graph_id, so
"modify graph G" rewrites exactly one partition while readers
elsewhere see an atomic swap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures

# The roundtrip query's "op 2 modify": replace G1's edge set with this
# (single source of truth for both the Spark write and the oracle).
MODIFY_GRAPH_ID = "G1"
MODIFIED_EDGES: list[tuple[int, int]] = [(1, 2), (1, 4), (2, 3), (3, 4)]

FIXTURE_MATRIX_DIR = "/tmp/dgdb_matrix_fixtures"
STORE_DIR = "/tmp/dgdb_store/graph_edges"


def matrix_text(n: int, edges: list[tuple[int, int]]) -> str:
    """Serialize one graph in the reference's file format (R2's
    serialize loop, primary_server.c:120-146): undirected edges stored
    once become a symmetric 0/1 matrix; 1-indexed vids."""
    adj = [[0] * n for _ in range(n)]
    for s, d in edges:
        adj[s - 1][d - 1] = 1
        adj[d - 1][s - 1] = 1
    lines = [str(n)] + [" ".join(map(str, row)) for row in adj]
    return "\n".join(lines) + "\n"


def write_fixture_matrix_files(out_dir: str = FIXTURE_MATRIX_DIR) -> str:
    """Materialize G1-G6 as matrix text files (byte-compatible with the
    reference's own G*.txt). Idempotent; tiny files, driver-side."""
    os.makedirs(out_dir, exist_ok=True)
    for gid, (n, edges) in fixtures.FIXTURE_GRAPHS.items():
        with open(os.path.join(out_dir, f"{gid}.txt"), "w") as f:
            f.write(matrix_text(n, edges))
    return out_dir


# One generator over each file's text (`value`): lines[0] is n, matrix
# row i (0-based) is vertex i + 1; each line is trimmed, then split on
# \s+. The file stores the symmetric matrix, so only the upper triangle
# incl. the diagonal is kept: each undirected edge once, self-loops once.
# A SQL string, not Column lambdas: it is analysed in one pass, and the
# same expression built from Python lambdas took about twice as long to
# plan; planning, not data, bounds the write path.
_LINES_SQL = r"split(trim(value), '\n')"
_EDGES_SQL = rf"""
inline(flatten(transform(
    slice({_LINES_SQL}, 2, size({_LINES_SQL}) - 1),
    (line, i) -> filter(
        transform(
            split(trim(line), '\\s+'),
            (c, j) -> IF(c = '1' AND i <= j,
                         named_struct('src', CAST(i + 1 AS BIGINT),
                                      'dst', CAST(j + 1 AS BIGINT)),
                         NULL)),
        e -> e IS NOT NULL))))
"""


def parse_matrix_dir(spark: SparkSession, path: str) -> DataFrame:
    """R1 ingest, distributed: directory of Gx.txt → edge list
    (graph_id, src, dst) stored once (src <= dst; self-loops once).

    wholetext puts each file in one row; one `inline` generator
    (_EDGES_SQL) unpacks the matrix without any Python-side row
    handling. The n=0 file (G4) yields no matrix rows and therefore no
    edges — correct degenerate.
    """
    raw = (
        spark.read.format("text")
        .option("wholetext", True)
        # directory + pathGlobFilter, not a glob-in-path: a literal
        # glob makes the source resolver stat the glob string itself
        # and log a spurious FileNotFoundException WARN + stack trace
        # into otherwise-clean runs (seen in BENCH_r02 stderr).
        .option("pathGlobFilter", "*.txt")
        .load(path)
    )
    # Spark charges opening one file as reading openCostInBytes. Input
    # below that (the reference's whole store is ~36 KB) is parsed in
    # one task: a count or aggregate over it then needs no shuffle.
    # The size comes from the file listing the load already did.
    size = raw._jdf.queryExecution().analyzed().stats().sizeInBytes()
    if size <= spark._jsparkSession.sessionState().conf().filesOpenCostInBytes():
        raw = raw.coalesce(1)
    return raw.selectExpr(
        r"regexp_extract(input_file_name(), '([^/]+)\\.txt$', 1) AS graph_id",
        _EDGES_SQL,
    )


def parse_matrix_vertices(spark: SparkSession, path: str) -> DataFrame:
    """Vertex set 1..n per graph, from line 1 — isolated vertices (G6)
    exist even with zero edges."""
    raw = (
        spark.read.format("text")
        .option("wholetext", True)
        # directory + pathGlobFilter, not a glob-in-path: a literal
        # glob makes the source resolver stat the glob string itself
        # and log a spurious FileNotFoundException WARN + stack trace
        # into otherwise-clean runs (seen in BENCH_r02 stderr).
        .option("pathGlobFilter", "*.txt")
        .load(path)
        .select(
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.txt$", 1).alias("graph_id"),
            F.split(F.trim(F.col("value")), "\n").getItem(0).cast("int").alias("n"),
        )
    )
    return (
        # guard n=0 (G4): sequence(1, 0) would count DOWN to [1, 0].
        raw.filter(F.col("n") >= 1)
        .select("graph_id", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("vid"))
        .select("graph_id", F.col("vid").cast("bigint").alias("vid"))
    )


def graph_from_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: serialize the fixture graphs to reference-format
    matrix files, ingest them back distributed, return the edge list.
    Oracle: the fixture edge literals (the roundtrip must be identity).
    """
    path = write_fixture_matrix_files()
    return parse_matrix_dir(spark, path)


ORACLE_GRAPH_FROM_MATRIX = f"""
SELECT graph_id, CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
FROM (VALUES {fixtures.fixture_edges_values_sql()}) AS t(graph_id, src, dst)
"""


def graph_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: R2 add + R3 modify against the parquet store.

    1. "add" all fixture graphs: write edges partitioned by graph_id.
    2. "modify" G1: dynamic partition overwrite of only that partition
       with MODIFIED_EDGES (the reference's whole-file rewrite,
       primary_server.c:111-112, scoped to one graph).
    3. scan back → (graph_id, n_edges) post-state.
    """
    edges = fixtures.fixture_edges_df(spark)
    (
        edges.repartition("graph_id")
        .write.mode("overwrite")
        .partitionBy("graph_id")
        .parquet(STORE_DIR)
    )

    modified = spark.createDataFrame(
        [(MODIFY_GRAPH_ID, s, d) for s, d in MODIFIED_EDGES],
        "graph_id string, src bigint, dst bigint",
    )
    # Per-write dynamic overwrite: only partitions present in the
    # written data are replaced (R3 semantics). An option, not the
    # session conf, because concurrent serve threads share the session.
    (
        modified.repartition("graph_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("graph_id")
        .parquet(STORE_DIR)
    )

    return (
        spark.read.parquet(STORE_DIR)
        .groupBy("graph_id")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )


_N_MODIFIED = len(MODIFIED_EDGES)

ORACLE_GRAPH_STORE_ROUNDTRIP = f"""
WITH stored AS (
    SELECT graph_id FROM (VALUES {fixtures.fixture_edges_values_sql()})
        AS t(graph_id, src, dst)
    WHERE graph_id <> '{MODIFY_GRAPH_ID}'
    UNION ALL
    SELECT '{MODIFY_GRAPH_ID}' AS graph_id
    FROM range({_N_MODIFIED})
)
SELECT graph_id, COUNT(*) AS n_edges FROM stored GROUP BY graph_id
"""


def graph_export_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 serialize, distributed: edge lists → the reference's matrix
    text lines (primary_server.c:120-146 as a Spark plan) →
    (graph_id, line_no, line). line_no 0 is the header line `n`; lines
    1..n are space-separated 0/1 matrix rows, symmetric, self-loops on
    the diagonal.

    Shape: vertices ⋈ vertices per graph builds the (row, col) grid,
    a left join against symmetrized edges marks the 1-cells, and one
    groupBy(graph_id, row) assembles each line with an ordered
    array_sort+transform — per-row parallelism, no driver-side matrix
    assembly (the driver-side `matrix_text` helper exists only to
    write test fixtures). At scale each matrix row is one aggregation
    group — a graph's export parallelizes across its rows.
    """
    verts = fixtures.fixture_vertices_df(spark)
    edges = fixtures.fixture_edges_df(spark)
    sym = edges.unionByName(
        edges.filter(F.col("src") != F.col("dst")).select(
            "graph_id", F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )
    grid = (
        verts.select("graph_id", F.col("vid").alias("row"))
        .join(verts.select("graph_id", F.col("vid").alias("col")), "graph_id")
    )
    cells = grid.join(
        sym.select("graph_id", F.col("src").alias("row"), F.col("dst").alias("col"))
        .withColumn("one", F.lit(1)),
        ["graph_id", "row", "col"],
        "left",
    ).select("graph_id", "row", "col", F.coalesce("one", F.lit(0)).alias("cell"))
    body = (
        cells.groupBy("graph_id", F.col("row").alias("line_no"))
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("col", "cell"))),
                    lambda s: s.cell.cast("string"),
                ),
            ).alias("line")
        )
    )
    header = (
        verts.groupBy("graph_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "graph_id",
            F.lit(0).cast("bigint").alias("line_no"),
            F.col("n").cast("string").alias("line"),
        )
    )
    # empty graph (G4, n=0): no vertices ⇒ no header row from verts —
    # emit its `0` header from the catalog of graph ids.
    gids = spark.createDataFrame(
        [(g,) for g in fixtures.existing_graph_ids()], "graph_id string"
    )
    empty_header = (
        gids.join(verts.select("graph_id").distinct(), "graph_id", "left_anti")
        .select(
            "graph_id",
            F.lit(0).cast("bigint").alias("line_no"),
            F.lit("0").alias("line"),
        )
    )
    return header.unionByName(empty_header).unionByName(body)


ORACLE_GRAPH_EXPORT_MATRIX = f"""
WITH verts(graph_id, vid) AS (VALUES {fixtures.fixture_vertices_values_sql()}),
edges(graph_id, src, dst) AS (VALUES {fixtures.fixture_edges_values_sql()}),
gids(graph_id) AS (VALUES {fixtures.existing_graphs_values_sql()}),
sym AS (
  SELECT graph_id, src, dst FROM edges
  UNION ALL
  SELECT graph_id, dst, src FROM edges WHERE src <> dst
),
grid AS (
  SELECT r.graph_id, r.vid AS row, c.vid AS col
  FROM verts r JOIN verts c USING (graph_id)
),
cells AS (
  SELECT g.graph_id, g.row, g.col,
         CASE WHEN s.src IS NULL THEN 0 ELSE 1 END AS cell
  FROM grid g
  LEFT JOIN sym s ON s.graph_id = g.graph_id AND s.src = g.row AND s.dst = g.col
),
body AS (
  SELECT graph_id, CAST(row AS BIGINT) AS line_no,
         string_agg(CAST(cell AS VARCHAR), ' ' ORDER BY col) AS line
  FROM cells GROUP BY graph_id, row
),
header AS (
  SELECT g.graph_id, CAST(0 AS BIGINT) AS line_no,
         CAST(COALESCE(v.n, 0) AS VARCHAR) AS line
  FROM gids g
  LEFT JOIN (SELECT graph_id, COUNT(*) AS n FROM verts GROUP BY graph_id) v
    USING (graph_id)
)
SELECT * FROM header UNION ALL SELECT * FROM body
"""


QUERIES = {
    "graph_from_matrix": graph_from_matrix,
    "graph_store_roundtrip": graph_store_roundtrip,
    "graph_export_matrix": graph_export_matrix,
}

ORACLE_SQL = {
    "graph_from_matrix": ORACLE_GRAPH_FROM_MATRIX,
    "graph_store_roundtrip": ORACLE_GRAPH_STORE_ROUNDTRIP,
    "graph_export_matrix": ORACLE_GRAPH_EXPORT_MATRIX,
}
