"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload serve_rw --seed 1 --seconds 20 --trace 0

Run from the repository root. The run makes its inputs from the seed,
sets up the engine, warms it up, measures for about `--seconds`, sets
it up again SETUP_REPS - 1 times, checks every answer it timed, and
prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics, taken from spans and
Spark counters recorded around every operation (spans are also
written to ``.perfbench/traces/``). A wrong answer, an engine error or
an operation over its time budget counts as failed and makes the
command exit 1.

Everything the run writes (generated tables, the graph store, Spark
scratch and warehouse, staging dirs) lives under ``.perfbench/`` in
the repository and is removed at exit, except the trace files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_rw", "key_mix")


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    `work`, and make it the working directory (spark-warehouse/)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: no JVM monitoring file under /tmp/hsperfdata_*.
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(work)


class Context:
    """What a workload needs from the run."""

    def __init__(self, args, work, engine, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.engine = engine
        self.tracer = tracer
        self._probe = None

    def stream_probe(self):
        """The streaming listener on the current session (traced runs)."""
        if not self.tracer.enabled:
            return None
        if self._probe is None:
            from tracing import StreamProbe

            self._probe = StreamProbe()
            self.engine.spark.streams.addListener(self._probe)
        return self._probe


def _result(spec, args, ops, e2e, layer, engine, tracer) -> dict:
    failed = [op for op in ops if op.error is not None]
    if args.trace:
        layer = {
            **layer,
            "failed_frac": len(failed) / len(ops),
            "trace.overhead_s": tracer.overhead_s,
            "session.peak_rss_mb": engine.peak_rss_mb(),
            **{f"traced.{k}": v for k, v in e2e.items()},
        }
        names, values = spec["per_layer"], layer
    else:
        names, values = spec["end_to_end"], e2e
    unknown = set(values) - {m["name"] for m in names}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {
            # A layer this workload does not exercise reports 0.
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        },
    }


def main(argv=None) -> int:
    args = _parse_args(argv)
    # A terminated run still stops Spark and removes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "distributed_graph_database_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    _isolate(work)

    from harness import Engine, phase
    from tracing import Tracer
    import keymix
    import serve

    tracer = Tracer(bool(args.trace))
    engine = Engine()
    ctx = Context(args, work, engine, tracer)
    try:
        workload = serve if args.workload == "serve_rw" else keymix
        phase("imported")
        ops, e2e, layer = workload.run(ctx)
        phase("measured")
        result = _result(spec, args, ops, e2e, layer, engine, tracer)
        for op in ops:
            if op.error is not None:
                print(f"perfbench: {op.kind} FAILED: {op.error}", file=sys.stderr)
    finally:
        try:
            engine.close()
            phase("engine closed")
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
    if tracer.enabled:
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    phase("done")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
