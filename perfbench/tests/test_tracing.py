"""Span bookkeeping: self time and attribute wrapping."""

from __future__ import annotations

import sys
import threading
import types

from perfbench.tracing import Span, Tracer


def _span(t, id_, layer, start, end, parent=None):
    t.spans.append(Span(id_, f"s{id_}", layer, start, end, parent, "r", "main"))


def test_self_time_subtracts_children_and_merges_parallel_ones():
    t = Tracer("r", enabled=True)
    _span(t, 0, "bench", 0.0, 10.0)
    _span(t, 1, "gha", 1.0, 9.0, parent=0)
    # three parallel writes under the gha span, overlapping in wall time
    _span(t, 2, "io.sink", 2.0, 6.0, parent=1)
    _span(t, 3, "io.sink", 3.0, 7.0, parent=1)
    _span(t, 4, "io.sink", 5.0, 6.5, parent=1)
    got = t.self_times()
    assert got["bench"] == 2.0  # 10 s minus the 8 s gha span
    assert got["gha"] == 3.0  # 8 s minus the 2..7 union of its children
    assert got["io.sink"] == 5.0  # union 2..7, not the 9.5 s sum
    assert sum(got.values()) == 10.0


def test_pool_thread_spans_parent_to_the_op_threads_open_span():
    t = Tracer("r", enabled=True)
    with t.span("op", "bench", root=True):
        with t.span("ingest", "gha"):
            worker = []

            def run():
                with t.span("write", "io.sink"):
                    worker.append(1)

            th = threading.Thread(target=run)
            th.start()
            th.join(timeout=10)
            assert not th.is_alive() and worker
    by = {s.name: s for s in t.spans}
    assert by["write"].parent == by["ingest"].id
    assert by["ingest"].parent == by["op"].id


def test_wrap_replaces_every_alias_and_unwrap_restores():
    def f(x):
        return x + 1

    mod_a = types.ModuleType("etl_github_spark._perfbench_test_a")
    mod_b = types.ModuleType("etl_github_spark._perfbench_test_b")
    mod_a.f, mod_b.g = f, f
    sys.modules[mod_a.__name__], sys.modules[mod_b.__name__] = mod_a, mod_b
    try:
        t = Tracer("r", enabled=True)
        t.wrap(f, "layer.f", "layer")
        assert mod_a.f is not f and mod_b.g is not f
        assert mod_a.f(1) == 2 and mod_b.g(2) == 3
        assert [s.name for s in t.spans] == ["layer.f", "layer.f"]
        t.unwrap_all()
        assert mod_a.f is f and mod_b.g is f
    finally:
        del sys.modules[mod_a.__name__], sys.modules[mod_b.__name__]


def test_disabled_tracer_records_nothing_and_wraps_nothing():
    def f():
        return 1

    mod = types.ModuleType("etl_github_spark._perfbench_test_c")
    mod.f = f
    sys.modules[mod.__name__] = mod
    try:
        t = Tracer("r", enabled=False)
        t.wrap(f, "x", "x")
        with t.span("y", "y"):
            pass
        assert mod.f is f and t.spans == []
    finally:
        del sys.modules[mod.__name__]
