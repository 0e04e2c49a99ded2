"""The benchmark's own tests: its correctness gate counts a wrong answer
as a failed operation, and a failed operation fails the run.

    python3 -m pytest perfbench/test_gate.py -q

No Spark session is started: engine calls are replaced by fakes that
return a chosen answer.
"""

from __future__ import annotations

import os
import sys
import threading

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import keymix  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import serve  # noqa: E402
import datagen  # noqa: E402
from datagen import Request  # noqa: E402
from harness import Op  # noqa: E402
from tracing import Tracer  # noqa: E402

G1 = (4, ((1, 2), (1, 4), (2, 3)))
G5 = (5, ((1, 2), (1, 3), (1, 4), (3, 5)))


class FakeBudget:
    limit = 30.0

    def begin(self, label):
        return label

    def end(self, group):
        return False


class FakeCtx:
    tracer = Tracer(False)


class Answer:
    """Stands in for a DataFrame: collects to the chosen rows."""

    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows

    def toPandas(self):
        return self.rows


def test_pure_python_traversals_match_fixture_goldens():
    assert oracle.bfs_order(*G1) == "1 2 4 3"
    assert oracle.dfs_terminals(*G1) == [3, 4]
    assert oracle.bfs_order(*G5) == "1 2 3 4 5"
    assert oracle.dfs_terminals(*G5) == [2, 4, 5]
    assert oracle.bfs_order(2, ()) == "1"
    assert oracle.dfs_terminals(2, ()) == [1]


def test_canonical_hash_ignores_order_but_not_values():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    b = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
    assert oracle.canonical_hash(a) == oracle.canonical_hash(b)
    b.loc[0, "v"] = 1.25
    assert oracle.canonical_hash(a) != oracle.canonical_hash(b)


@pytest.fixture
def key_oracle(tmp_path):
    pd.DataFrame({"x": [1, 2, 3]}).to_parquet(tmp_path / "t.parquet")
    ko = oracle.KeyOracle(str(tmp_path), {"k": "SELECT CAST(SUM(x) AS BIGINT) AS s FROM t", "r": None})
    yield ko
    ko.close()


def test_key_oracle_flags_corrupted_and_empty_answers(key_oracle):
    assert key_oracle.check("k", pd.DataFrame({"s": [6]})) is None
    assert key_oracle.check("k", pd.DataFrame({"s": [7]})).startswith("hash")
    assert key_oracle.check("r", pd.DataFrame({"s": [1]})) is None
    assert key_oracle.check("r", pd.DataFrame({"s": []})) == "no rows"


@pytest.mark.parametrize("total, failed", [(6, False), (7, True)])
def test_key_mix_counts_a_corrupted_answer_as_failed(
    key_oracle, monkeypatch, total, failed
):
    answer = Answer(pd.DataFrame({"s": [total]}))
    monkeypatch.setitem(keymix.registry.QUERIES, "k", lambda spark, sf: answer)
    op = keymix._one_key(FakeCtx(), None, "", "k", FakeBudget(), key_oracle, None)
    assert (op.error is not None) == failed


@pytest.mark.parametrize("op_code, answer", [(4, [("1 4 2 3",)]), (3, [(3,), (2,)])])
def test_serve_counts_a_corrupted_read_as_failed(monkeypatch, op_code, answer):
    monkeypatch.setattr(serve.matrix, "parse_matrix_dir", lambda spark, d: None)
    monkeypatch.setattr(serve.derive, "symmetrize", lambda edges: None)
    monkeypatch.setattr(serve.traversal, "bfs_order", lambda *a: Answer(answer))
    monkeypatch.setattr(serve.traversal, "bfs_levels", lambda *a: None)
    monkeypatch.setattr(serve.traversal, "dfs_leaves_from_levels", lambda *a: Answer(answer))
    server = serve.Server(FakeCtx(), None, "/nonexistent", {"G1": G1}, [], FakeBudget())
    op = server._read(Request(seq=5, op=op_code, graph="G1"), "secondary_1")
    assert op.error is not None and op.error.startswith("answer")


def test_serve_accepts_the_right_answer(monkeypatch):
    monkeypatch.setattr(serve.matrix, "parse_matrix_dir", lambda spark, d: None)
    monkeypatch.setattr(serve.derive, "symmetrize", lambda edges: None)
    monkeypatch.setattr(serve.traversal, "bfs_order", lambda *a: Answer([("1 2 4 3",)]))
    server = serve.Server(FakeCtx(), None, "/nonexistent", {"G1": G1}, [], FakeBudget())
    op = server._read(Request(seq=5, op=4, graph="G1"), "secondary_2")
    assert op.error is None


def test_a_read_sees_the_state_as_of_its_seq(monkeypatch):
    """A read at seq 5 must see the write at seq 3 but not the one at 7."""
    seen = []
    monkeypatch.setattr(serve.matrix, "parse_matrix_dir", lambda spark, d: seen.append(d))
    monkeypatch.setattr(serve.derive, "symmetrize", lambda edges: None)
    monkeypatch.setattr(serve.traversal, "bfs_order", lambda *a: Answer([("1 2",)]))
    server = serve.Server(FakeCtx(), None, "/s", {"G1": G1}, [], FakeBudget())
    server.versions["G1"] += [(3, 2, ((1, 2),), "/s/v3"), (7, 2, (), "/s/v7")]
    op = server._read(Request(seq=5, op=4, graph="G1"), "secondary_1")
    assert seen == ["/s/v3"] and op.error is None


def test_a_read_waits_for_lower_seq_writes(monkeypatch):
    monkeypatch.setattr(serve.matrix, "parse_matrix_dir", lambda spark, d: None)
    monkeypatch.setattr(serve.derive, "symmetrize", lambda edges: None)
    monkeypatch.setattr(serve.traversal, "bfs_order", lambda *a: Answer([("1 2 4 3",)]))
    server = serve.Server(FakeCtx(), None, "/s", {"G1": G1}, [], FakeBudget())
    server.pending.add(4)
    out = []
    t = threading.Thread(
        target=lambda: out.append(server._read(Request(5, 4, "G1"), "secondary_1"))
    )
    t.start()
    t.join(0.3)
    assert t.is_alive() and not out
    with server.cv:
        server.pending.discard(4)
        server.cv.notify_all()
    t.join(5)
    assert not t.is_alive() and out[0].error is None


def test_a_failed_operation_fails_the_run():
    spec = {"end_to_end": [{"name": "pass_s", "unit": "s"}], "per_layer": []}

    class Args:
        trace = 0

    ok, bad = Op("k", 0.0, 1.0), Op("k", 1.0, 2.0, error="hash a != oracle b")
    res = run._result(spec, Args, [ok, bad], {"pass_s": 1.0}, {}, None, Tracer(False))
    assert res["correct"] is False and res["attempted"] == 2 and res["failed"] == 1
    res = run._result(spec, Args, [ok], {"pass_s": 1.0}, {}, None, Tracer(False))
    assert res["correct"] is True and res["failed"] == 0


def test_key_mix_runs_a_fixed_number_of_passes(monkeypatch):
    """The timed pass count follows from --seconds alone, so a faster
    engine takes its samples from the same passes as a slower one."""
    monkeypatch.setattr(keymix, "_one_key", lambda ctx, spark, sf, key, *a: Op(key, 0.0))

    class Args:
        seed, seconds = 3, 20

    class Engine:
        spark = None

    ctx = run.Context(Args, "", Engine(), Tracer(False))
    warm, _, passes = keymix._measure(ctx, "", None)
    assert len(warm) == keymix.WARM_PASSES * len(keymix.KEYS)
    assert len(passes) == round(20 / keymix.NOMINAL_PASS_S)
    assert all(sorted(op.kind for op in p) == sorted(keymix.KEYS) for p in passes)


def test_serve_times_each_request_once(monkeypatch):
    """The three servers serve exactly the requests they are given, each
    once, by seq parity, whatever the speed of the engine."""
    monkeypatch.setattr(serve.Server, "_write", lambda self, req: Op("write", req.seq))
    monkeypatch.setattr(
        serve.Server, "_read", lambda self, req, role: Op(f"op{req.op}", req.seq, server=role)
    )

    class Spark:
        class sparkContext:
            setLocalProperty = staticmethod(lambda key, value: None)

    class Ctx(FakeCtx):
        class engine:
            spark = Spark

    initial, reqs = datagen.serve_stream(1, 20, 30, 4, serve.BLOCK, 16)
    ops = serve._serve(Ctx(), "/s", initial, reqs[:16], FakeBudget())
    assert sorted(op.start for op in ops) == list(range(1, 17))
    for op in ops:
        if op.kind != "write":
            assert op.server == ("secondary_1" if op.start % 2 else "secondary_2")
