"""Workload `key_mix`: declared query keys run back to back.

The mix samples three engine families so that one run measures each:
job-count-bound iterative graph kernels (`graph/analytics.py`,
`graph/traversal.py`), single-shot TPC-H plans (`relational.py`) and
availableNow streaming drains (`streaming/events_stream.py`). Every
pass runs each key once, in an order drawn from the seed. A key's
sample is the registry call plus materializing its answer in this
process; the answer is then checked against the key's DuckDB twin,
outside the timed region.
"""

from __future__ import annotations

import os
import random
import time

import bench
from distributed_graph_database_spark import oracles, registry

import datagen
from harness import Budget, Op, end_to_end, median, phase, repeated_setup
from oracle import KeyOracle
from tracing import SPARK_COUNTERS, group_counters

SF = 0.01
# The tables are the same on every run, like a TPC-H database at a
# given scale factor; the run seed draws the key order of each pass.
DATA_SEED = 0
FAMILIES = {
    "graph_iter": ["graph_kcore", "graph_components"],
    "tpch_sql": ["ql_sql_q1", "ql_sql_q3", "ql_sql_q18"],
    "stream_drain": ["stream_tumbling"],
}
KEYS = [k for keys in FAMILIES.values() for k in keys]
# bench.run_setup line items the keys above read from.
FILLS = {"graph_derive_persist", "stream_source_stage"}
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit")
# Timed passes per run: a fixed count, so that every run takes its
# samples from the same passes whatever the speed of the engine. It is
# `--seconds` over this nominal pass time, rounded.
NOMINAL_PASS_S = 6.0
# Untimed passes before them, for the JVM to compile the engine's code
# paths. On 4 cores passes take about 14-19, 7.5-11 and 6.5-8 s, and
# still fall by a few per cent a pass after that; a run that waited
# until they stop falling would not fit the benchmark's time budget.
WARM_PASSES = 2


def run(ctx) -> tuple[list[Op], dict[str, float], dict[str, float]]:
    sf_dir = os.path.join(ctx.work, "tables")
    t0 = time.perf_counter()
    datagen.write_tables(sf_dir, DATA_SEED, SF)
    datagen_s = time.perf_counter() - t0
    oracle = KeyOracle(sf_dir, oracles.ORACLE_SQL)
    try:
        for key in KEYS:
            oracle.expected(key)
        setup_s, layer, (warm, warm_s, passes) = repeated_setup(
            ctx.engine,
            lambda spark: bench.run_setup(spark, sf_dir, only=FILLS),
            lambda: _measure(ctx, sf_dir, oracle),
        )
    finally:
        oracle.close()
    layer["setup.datagen_s"] = datagen_s
    layer["setup.warm_s"] = warm_s
    ops = [op for p in passes for op in p]
    wall = max(op.end for op in ops) - min(op.start for op in ops)
    e2e = end_to_end(setup_s, ops, KEYS, KEYS, wall)
    layer["mix.passes"] = len(passes)
    return warm + ops, e2e, {**layer, **_per_layer(ops)}


def _measure(ctx, sf_dir, oracle) -> tuple[list[Op], float, list[list[Op]]]:
    """WARM_PASSES untimed passes, then the timed ones, each running
    every key once (timed passes in an order drawn from the seed).
    Returns the warm operations, their seconds and the timed passes."""
    phase("set up")
    spark = ctx.engine.spark
    probe = ctx.stream_probe()
    rng = random.Random(ctx.seed)
    budget = Budget(ctx.engine)

    def one_pass(keys) -> list[Op]:
        t0 = time.perf_counter()
        ops = [_one_key(ctx, spark, sf_dir, k, budget, oracle, probe) for k in keys]
        phase(f"pass: {time.perf_counter() - t0:.2f} s")
        return ops

    try:
        t0 = time.perf_counter()
        warm = [op for _ in range(WARM_PASSES) for op in one_pass(KEYS)]
        warm_s = time.perf_counter() - t0
        phase("warm")
        n = max(1, round(ctx.seconds / NOMINAL_PASS_S))
        passes = [one_pass(rng.sample(KEYS, len(KEYS))) for _ in range(n)]
    finally:
        budget.close()
    return warm, warm_s, passes


def _one_key(ctx, spark, sf_dir, key, budget, oracle, probe) -> Op:
    query = registry.QUERIES[key]
    group = budget.begin(key)
    mark = probe.mark() if probe is not None else 0
    op = Op(key, time.perf_counter())
    pdf = None
    try:
        with ctx.tracer.span(key, group) as sid:
            with ctx.tracer.span("registry.call", group, sid):
                df = query(spark, sf_dir)
            t_call = time.perf_counter()
            with ctx.tracer.span("exec.materialize", group, sid):
                pdf = df.toPandas()
        op.end = time.perf_counter()
        op.parts = {"call": t_call - op.start, "materialize": op.end - t_call}
    except Exception as exc:  # a failed key is recorded, not fatal
        op.end = time.perf_counter()
        op.error = f"{type(exc).__name__}: {exc}"[:300]
    if budget.end(group):
        op.error = f"budget: exceeded {budget.limit:g} s"
    if op.error is None:
        op.error = oracle.check(key, pdf)
    if ctx.tracer.enabled:
        t0 = time.perf_counter()
        runs = probe.runs_since(mark) if key.startswith("stream_") else []
        op.counters = group_counters(spark.sparkContext, [group, *runs])
        if runs:
            batches = probe.batches(runs)
            op.counters["batches"] = len(batches)
            for name in (*STREAM_PHASES, "triggerExecution"):
                op.counters[name] = sum(b.get(name, 0) for b in batches) / 1e3
        ctx.tracer.overhead_s += time.perf_counter() - t0
    return op


def _ok(ops):
    return [op for op in ops if op.error is None]


def _key_median(ops, key, value) -> float:
    return median(value(op) for op in ops if op.kind == key)


def _per_layer(ops: list[Op]) -> dict[str, float]:
    good = _ok(ops)
    out: dict[str, float] = {}
    for fam, keys in FAMILIES.items():
        out[f"{fam}.pass_s"] = sum(
            _key_median(good, k, lambda op: op.seconds) for k in keys
        )
    for key in KEYS:
        out[f"{key}.s"] = _key_median(good, key, lambda op: op.seconds)
    for part in ("call", "materialize"):
        name = "registry.call_s" if part == "call" else "exec.materialize_s"
        out[name] = sum(_key_median(good, k, lambda op: op.parts[part]) for k in KEYS)
    if good and good[0].counters:
        for key in KEYS:
            out[f"{key}.jobs"] = _key_median(good, key, lambda op: op.counters["jobs"])
        for c in SPARK_COUNTERS:
            out[f"spark.{c}"] = sum(
                _key_median(good, k, lambda op: op.counters[c]) for k in KEYS
            )
        streams = FAMILIES["stream_drain"]
        out["stream.batches"] = sum(
            _key_median(good, k, lambda op: op.counters["batches"]) for k in streams
        )
        for name in STREAM_PHASES:
            out[f"stream.{name}_s"] = sum(
                _key_median(good, k, lambda op: op.counters[name]) for k in streams
            )
        out["stream.lifecycle_s"] = sum(
            _key_median(
                good, k, lambda op: op.seconds - op.counters["triggerExecution"]
            )
            for k in streams
        )
    return out
