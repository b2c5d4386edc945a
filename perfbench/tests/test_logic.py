"""The benchmark's own logic: its declared metrics, the percentile rule,
span self-time arithmetic and open-loop accounting."""

from __future__ import annotations

import json
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest

from perfbench import datagen, harness, layers, openloop, run, serve, stats
from perfbench.trace import Span, Tracer, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_follow_the_grammar_and_limits(bench):
    e2e, per_layer = bench["end_to_end"], bench["per_layer"]
    assert 1 <= len(e2e) <= 16
    assert 1 <= len(per_layer) <= 128
    names = [m["name"] for m in e2e + per_layer] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert stats.METRIC_NAME.match(name), name
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in e2e)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])


def test_declared_metrics_are_the_ones_reported(bench):
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert list(declared.items()) == list(layers.per_layer_units().items())
    assert {m["name"] for m in bench["end_to_end"]} == {"setup_s", "cpu_ms_per_op"}


@pytest.mark.parametrize("n,p", [(1000, 99.0), (999, 95.0), (200, 95.0), (100, 90.0),
                                 (40, 75.0), (20, 50.0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    values = [float(i) for i in range(1, n + 1)]
    got_p, value = stats.tail_percentile(values)
    assert got_p == p
    assert sum(1 for v in values if v > value) >= stats.MIN_BEYOND


def test_tail_percentile_falls_back_to_the_median():
    assert stats.tail_percentile([3.0, 1.0, 2.0]) == (50.0, 2.0)


def test_nearest_rank_percentile_and_median():
    values = [float(i) for i in range(1, 101)]
    assert stats.percentile(values, 99) == 99.0
    assert stats.percentile(values, 50) == 50.0
    assert stats.median([1.0, 2.0, 3.0, 4.0]) == 2.5


def test_interval_union_and_overlap():
    assert stats.union_intervals([(0, 2), (1, 3), (5, 6)]) == [(0, 3), (5, 6)]
    assert stats.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.overlap([(0, 10)], [(2, 4), (3, 5), (9, 12)]) == 4


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        Span(1, "parent", 0.0, 10.0, None, "op"),
        Span(2, "child", 1.0, 3.0, 1, "op"),
        Span(3, "child", 2.0, 5.0, 1, "op"),  # overlaps the first child
        Span(4, "child", 9.0, 12.0, 1, "op"),  # runs past the parent's end
        Span(5, "grandchild", 2.0, 3.0, 2, "op"),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[5] == pytest.approx(1.0)


def test_spans_nest_and_pool_threads_hang_under_the_op():
    tr = Tracer()
    tr.op = "q1"
    with tr.span("op"):
        tr.root = tr.current()
        with tr.span("inner"):
            pass
        with ThreadPoolExecutor(2) as ex:
            f = ex.submit(_in_span, tr)
            f.result()
    tr.root = None
    by = {s.name: s for s in tr.spans}
    assert by["inner"].parent == by["op"].sid
    assert by["worker"].parent == by["op"].sid
    assert by["worker"].op == "q1"


def _in_span(tr: Tracer) -> None:
    with tr.span("worker"):
        pass


def test_patch_function_rebinds_every_alias_and_unpatch_restores():
    import types

    mod_a = types.ModuleType("railgun_spark_fake.a")
    mod_b = types.ModuleType("railgun_spark_fake.b")

    def f(x):
        return x + 1

    mod_a.f = f
    mod_b.alias = f
    import sys

    sys.modules[mod_a.__name__] = mod_a
    sys.modules[mod_b.__name__] = mod_b
    try:
        tr = Tracer()
        assert tr.patch_function(f, "fake.f", prefix="railgun_spark_fake") == 2
        assert mod_a.f(1) == 2 and mod_b.alias(2) == 3
        assert [s.name for s in tr.spans] == ["fake.f", "fake.f"]
        tr.unpatch()
        assert mod_a.f is f and mod_b.alias is f
    finally:
        del sys.modules[mod_a.__name__], sys.modules[mod_b.__name__]


def test_poisson_arrivals_are_seeded():
    a = openloop.poisson_arrivals(random.Random(7), 100.0, 500)
    b = openloop.poisson_arrivals(random.Random(7), 100.0, 500)
    assert a == b and len(a) == 500 and a == sorted(a)
    assert 3.0 < a[-1] < 7.0  # 500 arrivals at 100/s take about 5 s


def test_lateness_and_queueing_from_due_time():
    o = openloop.Outcome(due=1.0, free=1.5, sent=1.6, done=2.0, ok=True, route="data")
    assert o.latency == pytest.approx(1.0)  # from due, not from send
    assert o.queued == pytest.approx(0.6)
    assert o.late == pytest.approx(0.1)  # only the generator's own delay
    early = openloop.Outcome(due=1.0, free=0.2, sent=1.001, done=1.1, ok=True, route="data")
    assert early.late == pytest.approx(0.001)


def test_backlog_accounting():
    outs = [openloop.Outcome(due=d, free=0, sent=s, done=s + 0.1, ok=True, route="x")
            for d, s in [(0.0, 0.0), (0.1, 0.5), (0.2, 0.6), (0.3, 0.7)]]
    assert openloop.backlog_max(outs) == 3
    steady = [openloop.Outcome(due=i, free=0, sent=i, done=i + 0.01, ok=True, route="x")
              for i in range(20)]
    assert not openloop.backlog_grows(steady)
    growing = [openloop.Outcome(due=i * 0.1, free=0, sent=i * 0.2, done=i * 0.2 + 0.2,
                                ok=True, route="x") for i in range(20)]
    assert openloop.backlog_grows(growing)


class _Req:
    def __init__(self, due: float) -> None:
        self.due, self.route = due, "x"

    def check(self, resp) -> bool:
        return resp == "ok"


def test_open_loop_charges_a_stall_to_the_requests_behind_it():
    # one connection, a 0.2 s stall on the first request, then requests
    # due every 0.05 s: each later request waits for the connection
    reqs = [_Req(0.05 * i) for i in range(5)]
    lock = threading.Lock()
    calls = []

    def send(req):
        with lock:
            calls.append(req.due)
        time.sleep(0.2 if req.due == 0 else 0.001)
        return "ok"

    outs = openloop.run_phase(reqs, send, connections=1)
    assert [o.ok for o in outs] == [True] * 5
    assert outs[1].queued > 0.1 and outs[1].latency > outs[1].done - outs[1].sent
    assert max(o.late for o in outs) < 0.05
    assert openloop.backlog_max(outs) >= 3


def test_refused_requests_count_as_failures():
    def send(req):
        raise ConnectionRefusedError

    outs = openloop.run_phase([_Req(0.0), _Req(0.01)], send, connections=2)
    assert [o.ok for o in outs] == [False, False]


def test_closed_loop_latency_with_every_op_failed_reads_zero():
    assert stats.closed_loop_latency([]) == {
        "op.geomean_ms": 0.0, "op.p50_ms": 0.0, "op.tail_ms": 0.0}


def test_a_table_does_not_depend_on_which_others_are_written(tmp_path):
    alone, together = tmp_path / "alone", tmp_path / "together"
    harness.write_inputs(str(alone), ("events",))
    harness.write_inputs(str(together), ("documents", "events"))
    assert (alone / "events.parquet").read_bytes() == (together / "events.parquet").read_bytes()
    assert not (alone / "documents.parquet").exists()


def test_data_tile_check_wants_every_point_of_the_buffered_tile(tmp_path):
    harness.write_inputs(str(tmp_path), ("events",))
    points_path = str(tmp_path / "points.parquet")
    datagen.write_points(points_path, str(tmp_path / "events.parquet"))
    points = pq.read_table(points_path).to_pydict()
    mix = serve.Mix(random.Random(3), points)
    req = mix.data(0.0)
    z, x, y = (int(v) for v in req.path.rsplit(".", 1)[0].split("/")[-3:])
    w, s, e, n = serve.buffered_bounds(z, x, y)
    feats = [{"type": "Feature", "properties": {},
              "geometry": {"type": "Point", "coordinates": [lon, lat]}}
             for lon, lat in zip(points["lon"], points["lat"]) if w <= lon <= e and s <= lat <= n]
    assert feats

    def body(fs):
        return json.dumps({"type": "FeatureCollection", "numberOfFeatures": len(fs),
                           "features": fs}).encode()

    assert req.check((200, body(feats)))
    assert not req.check((200, body(feats[1:])))  # truncated
    assert not req.check((200, body([])))
    assert not req.check((500, body(feats)))
