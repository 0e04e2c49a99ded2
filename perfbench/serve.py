"""Workload `serve_rw`: the reference system's request serving.

The reference publishes the bounds of its traffic (acyclic graphs,
n <= 30, at most 20 graphs) but not its mix, so the write share, the
read kinds and the graph shapes below are chosen, not measured. A
seeded stream of seq-numbered requests over at most N_GRAPHS small
acyclic graphs (n <= MAX_N) is served closed-loop by three threads on
one Spark session: a primary applies op 1 (add) and op 2 (modify)
writes, and two secondaries, chosen by seq parity, answer op 3 (DFS
terminal vertices) and op 4 (BFS order) from vertex 1. Requests are
dequeued in seq order; each server takes its next request only after
finishing the previous one.

Every write goes to a new versioned directory in the reference's
``Gx.txt`` format and is acknowledged once the engine re-ingests it
with the right edge count, so a reader never sees a torn file. A read
first waits until every lower-seq write is acknowledged (the
reference's seq-ordered writer lock), then reads the graph's latest
version below its own seq, and its answer is checked against a
pure-Python traversal of that state.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

from distributed_graph_database_spark.graph import derive, traversal
from distributed_graph_database_spark.sources import matrix

import datagen
import oracle
from harness import Budget, Op, end_to_end, median, phase, repeated_setup
from tracing import SPARK_COUNTERS, group_counters

N_GRAPHS = 20
MAX_N = 30
DEPTH = 4  # BFS from vertex 1 runs DEPTH + 1 rounds on every graph
# Every 10 requests: 3 writes (W) and 7 reads, 4 of them op 3. The
# template is fixed so that both secondaries (seq parity) get the same
# sequence of read kinds on every seed.
BLOCK = "34W34W343W"
# Requests served untimed before the timed ones, about 15 s on 4 cores.
WARM_REQS = 6
# Requests timed per run: a fixed count, `--seconds` times this nominal
# rate, so that every run times the same requests whatever the speed of
# the engine and no request is cut off by the end of a time window.
NOMINAL_REQ_PER_S = 0.8
SERVERS = ("primary", "secondary_1", "secondary_2")


def _owner(req: datagen.Request) -> str:
    if req.op <= 2:
        return "primary"
    return "secondary_1" if req.seq % 2 else "secondary_2"


def _write_version(store: str, gid: str, seq: int, n: int, edges) -> str:
    d = os.path.join(store, gid, f"v{seq:06d}")
    os.makedirs(d)
    with open(os.path.join(d, f"{gid}.txt"), "w") as f:
        f.write(matrix.matrix_text(n, list(edges)))
    return d


class Server:
    """State shared by the three server threads while they serve one
    list of requests."""

    def __init__(self, ctx, spark, store, initial, reqs, budget):
        self.ctx, self.spark, self.store = ctx, spark, store
        self.reqs, self.budget = reqs, budget
        # graph id -> [(write seq, n, edges, dir)], seq 0 = initial state
        self.versions = {
            g: [(0, n, e, os.path.join(store, g, "v000000"))]
            for g, (n, e) in initial.items()
        }
        self.cv = threading.Condition()
        self.cursor = 0
        self.pending: set[int] = set()
        self.stop = False
        self.ops: list[Op] = []
        self.errors: list[BaseException] = []

    def serve(self, role: str) -> None:
        # Each server runs in its own FAIR pool, as the engine's own
        # concurrent serve does (ops.py).
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", role)
        try:
            while True:
                with self.cv:
                    self.cv.wait_for(
                        lambda: self.stop
                        or self.cursor == len(self.reqs)
                        or _owner(self.reqs[self.cursor]) == role
                    )
                    if self.stop or self.cursor == len(self.reqs):
                        self.stop = True
                        self.cv.notify_all()
                        return
                    req = self.reqs[self.cursor]
                    self.cursor += 1
                    if req.op <= 2:
                        self.pending.add(req.seq)
                    self.cv.notify_all()
                op = self._write(req) if req.op <= 2 else self._read(req, role)
                with self.cv:
                    self.ops.append(op)
        except BaseException as exc:  # surface harness faults, unblock peers
            with self.cv:
                self.errors.append(exc)
                self.stop = True
                self.cv.notify_all()

    def _write(self, req) -> Op:
        tr = self.ctx.tracer
        op = Op("write", time.perf_counter())
        group = self.budget.begin(f"op{req.op}")
        d = None
        try:
            with tr.span(f"op{req.op}", group) as sid:
                with tr.span("matrix.matrix_text", group, sid):
                    d = _write_version(self.store, req.graph, req.seq, req.n, req.edges)
                t0 = time.perf_counter()
                with tr.span("matrix.parse_matrix_dir", group, sid):
                    got = matrix.parse_matrix_dir(self.spark, d).count()
                op.parts["parse"] = time.perf_counter() - t0
            if got != len(req.edges):
                op.error = f"ingest: {got} edges != {len(req.edges)} written"
        except Exception as exc:
            op.error = f"{type(exc).__name__}: {exc}"[:300]
        with self.cv:
            self.versions.setdefault(req.graph, []).append(
                (req.seq, req.n, req.edges, d)
            )
            self.pending.discard(req.seq)
            self.cv.notify_all()
        op.end = time.perf_counter()
        if self.budget.end(group):
            op.error = f"budget: exceeded {self.budget.limit:g} s"
        self._count(op, group)
        return op

    def _read(self, req, role: str) -> Op:
        tr = self.ctx.tracer
        op = Op(f"op{req.op}", time.perf_counter(), server=role)
        group = self.budget.begin(f"op{req.op}")
        try:
            with tr.span(f"op{req.op}", group) as sid:
                with tr.span("serve.visibility_wait", group, sid):
                    with self.cv:
                        self.cv.wait_for(
                            lambda: not any(s < req.seq for s in self.pending)
                        )
                        _, n, edges, d = max(
                            v for v in self.versions[req.graph] if v[0] < req.seq
                        )
                t0 = time.perf_counter()
                op.parts["wait"] = t0 - op.start
                sym = derive.symmetrize(matrix.parse_matrix_dir(self.spark, d))
                if req.op == 4:
                    with tr.span("traversal.bfs_order", group, sid):
                        got = traversal.bfs_order(self.spark, sym, 1).collect()[0][0]
                    op.parts["bfs_order"] = time.perf_counter() - t0
                    want = oracle.bfs_order(n, edges)
                else:
                    with tr.span("traversal.bfs_levels", group, sid):
                        levels = traversal.bfs_levels(self.spark, sym, 1)
                    t1 = time.perf_counter()
                    with tr.span("traversal.dfs_leaves_from_levels", group, sid):
                        rows = traversal.dfs_leaves_from_levels(levels, sym).collect()
                    got = sorted(r[0] for r in rows)
                    op.parts["bfs"] = t1 - t0
                    op.parts["format"] = time.perf_counter() - t1
                    want = oracle.dfs_terminals(n, edges)
            if got != want:
                op.error = f"answer: {got!r} != expected {want!r}"[:300]
        except Exception as exc:
            op.error = f"{type(exc).__name__}: {exc}"[:300]
        op.end = time.perf_counter()
        if self.budget.end(group):
            op.error = f"budget: exceeded {self.budget.limit:g} s"
        self._count(op, group)
        return op

    def _count(self, op: Op, group: str) -> None:
        if self.ctx.tracer.enabled:
            t0 = time.perf_counter()
            op.counters = group_counters(self.spark.sparkContext, [group])
            with self.cv:
                self.ctx.tracer.overhead_s += time.perf_counter() - t0


def run(ctx) -> tuple[list[Op], dict[str, float], dict[str, float]]:
    count = max(1, round(ctx.seconds * NOMINAL_REQ_PER_S))
    initial, reqs = datagen.serve_stream(
        ctx.seed, N_GRAPHS, MAX_N, DEPTH, BLOCK, max(count, WARM_REQS)
    )
    store = os.path.join(ctx.work, "store")

    def fill(spark) -> dict[str, float]:
        shutil.rmtree(store, ignore_errors=True)
        t0 = time.perf_counter()
        for gid, (n, edges) in initial.items():
            _write_version(store, gid, 0, n, edges)
        t1 = time.perf_counter()
        got = matrix.parse_matrix_dir(spark, os.path.join(store, "*", "v000000")).count()
        want = sum(len(e) for _, e in initial.values())
        if got != want:
            raise RuntimeError(f"store ingest: {got} edges != {want} written")
        return {"store_write": t1 - t0, "store_ingest": time.perf_counter() - t1}

    def measure() -> tuple[list[Op], float, list[Op]]:
        phase("set up")
        budget = Budget(ctx.engine)
        try:
            # Untimed serving on a copy of the store first: reads run
            # 2-3x slower until the JVM has compiled the traversal code.
            warm_store = os.path.join(ctx.work, "warm_store")
            for gid, (n, edges) in initial.items():
                _write_version(warm_store, gid, 0, n, edges)
            t0 = time.perf_counter()
            warm = _serve(ctx, warm_store, initial, reqs[:WARM_REQS], budget)
            warm_s = time.perf_counter() - t0
            phase("warm")
            ops = _serve(ctx, store, initial, reqs[:count], budget)
        finally:
            budget.close()
        return warm, warm_s, ops

    setup_s, layer, (warm, warm_s, ops) = repeated_setup(ctx.engine, fill, measure)
    layer["setup.warm_s"] = warm_s
    wall = max(op.end for op in ops) - min(op.start for op in ops)
    e2e = end_to_end(setup_s, ops, ("op3", "op4"), ("write", "op3", "op4"), wall)
    return warm + ops, e2e, {**layer, **_per_layer(ops)}


def _serve(ctx, store, initial, reqs, budget) -> list[Op]:
    """Serve `reqs` from `store` with the three servers."""
    server = Server(ctx, ctx.engine.spark, store, initial, reqs, budget)
    threads = [
        threading.Thread(target=server.serve, args=(role,), name=role)
        for role in SERVERS
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if server.errors:
        raise server.errors[0]
    return server.ops


def _ok(ops, kinds):
    return [op for op in ops if op.error is None and op.kind in kinds]


def _busy(ops: list[Op]) -> list[tuple[float, float]]:
    """Merged busy intervals of a set of operations."""
    out: list[list[float]] = []
    for a, b in sorted((op.start, op.end) for op in ops):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _overlap(reads: list[Op]) -> float:
    """Share of the secondaries' busy time during which both were busy."""
    one = _busy([op for op in reads if op.server == "secondary_1"])
    two = _busy([op for op in reads if op.server == "secondary_2"])
    both = sum(
        max(0.0, min(b1, b2) - max(a1, a2)) for a1, b1 in one for a2, b2 in two
    )
    either = sum(b - a for a, b in _busy(reads))
    return both / either if either else 0.0


def _per_layer(ops: list[Op]) -> dict[str, float]:
    writes = _ok(ops, ("write",))
    reads = _ok(ops, ("op3", "op4"))
    dfs = _ok(ops, ("op3",))
    out = {
        "serve.reads": len(reads),
        "serve.writes": len(writes),
        "serve.write_p50_s": median(op.seconds for op in writes),
        "serve.visibility_wait_s": (
            sum(op.parts["wait"] for op in reads) / len(reads) if reads else 0.0
        ),
        "serve.overlap": _overlap(reads),
        "matrix.parse_s": median(op.parts["parse"] for op in writes),
        "traversal.bfs_s": median(op.parts["bfs"] for op in dfs),
        "traversal.format_s": median(op.parts["format"] for op in dfs),
        "traversal.bfs_order_s": median(
            op.parts["bfs_order"] for op in _ok(ops, ("op4",))
        ),
    }
    if ops and ops[0].counters:
        out["serve.jobs_per_read"] = median(op.counters["jobs"] for op in reads)
        out["serve.jobs_per_write"] = median(op.counters["jobs"] for op in writes)
        for c in SPARK_COUNTERS:
            out[f"spark.{c}"] = sum(
                median(op.counters[c] for op in _ok(ops, (k,)))
                for k in ("write", "op3", "op4")
            )
    return out
