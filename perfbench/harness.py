"""Shared run machinery: the Spark session's lifetime, repeated set-up,
per-operation time budgets, operation records and their statistics."""

from __future__ import annotations

import itertools
import os
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark import SparkContext

from distributed_graph_database_spark import session

T0 = time.perf_counter()

# Longest an operation may run before its job group is cancelled and it
# counts as failed. Steady-state operations take 0.2-4 s on 4 cores.
OP_BUDGET_S = 30.0
SETUP_REPS = 3


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Inclusive-method quantile; the sample's value for tiny samples."""
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def phase(name: str) -> None:
    """Progress line on stderr, with seconds since the run began."""
    print(f"perfbench: {name} at {time.perf_counter() - T0:.1f} s", file=sys.stderr)


def end_to_end(setup_s, ops, read_kinds, pass_kinds, wall) -> dict[str, float]:
    """The end-to-end metrics every workload reports. Read percentiles
    are taken per read kind and averaged over the kinds, so that a run
    whose mix lands a few more samples on a slow kind reads the same."""
    good = [op for op in ops if op.error is None]

    def seconds(kind):
        return [op.seconds for op in good if op.kind == kind]

    return {
        "setup_s": setup_s,
        "req_per_s": len(good) / wall,
        "read_p50_s": statistics.fmean(quantile(seconds(k), 0.50) for k in read_kinds),
        "read_p75_s": statistics.fmean(quantile(seconds(k), 0.75) for k in read_kinds),
        "pass_s": sum(median(seconds(k)) for k in pass_kinds),
    }


@dataclass
class Op:
    """One timed operation."""

    kind: str
    start: float
    end: float = 0.0
    server: str = ""
    error: str | None = None
    parts: dict[str, float] = field(default_factory=dict)
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Engine:
    """The engine's Spark session as the benchmark drives it: started
    through ``session.get_spark``, restarted for each set-up repetition
    (a new application id gives every engine cache a cold key) and
    stopped together with its JVM at the end."""

    def __init__(self):
        self.spark = None

    def start(self) -> float:
        """Stop the current session, start a new one and return the
        seconds the start took."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return took

    def close(self) -> None:
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            gw = SparkContext._gateway
            SparkContext._gateway = None
            SparkContext._jvm = None
            if gw is not None:
                _stop_gateway(gw)

    def peak_rss_mb(self) -> float:
        """High-water resident memory of this process plus its Spark JVM."""
        pids = [os.getpid()]
        if self.spark is not None:
            jvm = self.spark.sparkContext._jvm
            pids.append(int(jvm.java.lang.ProcessHandle.current().pid()))
        total = 0.0
        for pid in pids:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024
        return total


def _stop_gateway(gw) -> None:
    """Shut the py4j gateway down and wait for its JVM to exit."""
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            # The gateway JVM exits when its stdin closes.
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def repeated_setup(engine: Engine, fill, measure):
    """Set the workload up SETUP_REPS times, each on a fresh session,
    and run `measure()` on the first. The first set-up pays JVM launch
    and cold code paths; the others run after `measure()`, in a warm
    JVM, so that their median repeats from run to run. `fill(spark)`
    returns the seconds of each named fill item.

    Returns the median set-up time, per-layer set-up medians and what
    `measure()` returned."""
    totals, items, starts = [], {}, []

    def once() -> None:
        # Stopping the previous session is not part of the set-up.
        starts.append(engine.start())
        t0 = time.perf_counter()
        for name, s in fill(engine.spark).items():
            items.setdefault(name, []).append(s)
        totals.append(starts[-1] + time.perf_counter() - t0)
        phase(f"set-up {len(totals)}: {totals[-1]:.2f} s, session {starts[-1]:.2f} s")

    once()
    measured = measure()
    for _ in range(SETUP_REPS - 1):
        once()
    layer = {
        "session.start_s": starts[0],
        "setup.restart_s": median(starts[1:]),
        "setup.fill_s": median(t - s for t, s in zip(totals, starts)),
    }
    layer.update({f"setup.{k}_s": median(v) for k, v in items.items()})
    return median(totals), layer, measured


class Budget:
    """Enforces OP_BUDGET_S from outside the engine: a watchdog cancels
    an overdue operation's job group, stops any running streaming query,
    and keeps doing so until the operation returns."""

    def __init__(self, engine: Engine, limit: float = OP_BUDGET_S):
        self._engine = engine
        self.limit = limit
        self._live: dict[str, float] = {}
        self._expired: set[str] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._ids = itertools.count()
        self._thread = threading.Thread(target=self._watch, daemon=True)
        self._thread.start()

    def begin(self, label: str) -> str:
        """Open a job group for one operation on the calling thread."""
        group = f"{label}#{next(self._ids)}"
        self._engine.spark.sparkContext.setJobGroup(group, label, True)
        with self._lock:
            self._live[group] = time.perf_counter() + self.limit
        return group

    def end(self, group: str) -> bool:
        """Close the operation; True if it overran its budget."""
        with self._lock:
            self._live.pop(group, None)
            return group in self._expired

    def _watch(self) -> None:
        while not self._stop.wait(0.25):
            now = time.perf_counter()
            with self._lock:
                late = [g for g, d in self._live.items() if d < now]
                self._expired.update(late)
            spark = self._engine.spark
            for group in late:
                spark.sparkContext.cancelJobGroup(group)
                for q in spark.streams.active:
                    q.stop()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
