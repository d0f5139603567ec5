"""Span bookkeeping: self time, nesting, and wrapper patching."""

import types

import pytest

from perfbench.trace import Span, Tracer, covered, self_times, subtree


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    # intervals are clipped to the window
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(1, "cli.main", 0.0, None, 1, end=10.0),
        Span(2, "schema.infer", 1.0, 1, 1, end=4.0),
        Span(3, "deploy.ensure_shipped", 1.5, 2, 1, end=2.0),
        Span(4, "pipeline.write", 5.0, 1, 1, end=9.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 3 - 4)
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(4)
    assert {s.sid for s in subtree(spans, 2)} == {2, 3}


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span(1, "root", 0.0, None, None, end=10.0),
        Span(2, "a", 2.0, 1, None, end=6.0),
        Span(3, "b", 4.0, 1, None, end=8.0),
    ]
    assert self_times(spans)[1] == pytest.approx(10 - 6)


def _ticking_clock():
    state = {"t": 0.0}

    def clock():
        state["t"] += 1.0
        return state["t"]

    return clock


def test_tracer_records_nested_spans_with_parents():
    tracer = Tracer(clock=_ticking_clock())
    tracer.active, tracer.iteration = True, 7
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    outer, inner = tracer.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert outer.iteration == inner.iteration == 7
    # clock ticks: outer 1..4, inner 2..3
    assert outer.duration == 3 and inner.duration == 1
    assert self_times(tracer.spans)[outer.sid] == 2


def test_inactive_tracer_records_nothing():
    tracer = Tracer()
    with tracer.span("x") as span:
        assert span is None
    assert tracer.spans == []


def test_patch_rebinds_aliases_and_unpatch_restores(monkeypatch):
    def target(x):
        return x + 1

    home = types.ModuleType("mongo2pq_spark._pb_home")
    alias = types.ModuleType("mongo2pq_spark._pb_alias")
    home.target = target
    alias.renamed = target
    monkeypatch.setitem(__import__("sys").modules, home.__name__, home)
    monkeypatch.setitem(__import__("sys").modules, alias.__name__, alias)

    tracer = Tracer(clock=_ticking_clock())
    assert tracer.patch(home, "target", "layer.target")
    assert home.target is not target and alias.renamed is home.target
    tracer.active = True
    assert alias.renamed(1) == 2
    assert [s.name for s in tracer.spans] == ["layer.target"]
    tracer.unpatch()
    assert home.target is target and alias.renamed is target
    assert not tracer.patch(home, "absent", "layer.absent")


def test_patch_wraps_methods_and_reports_results():
    class Store:
        def probe(self, n):
            return n * 2

    tracer = Tracer(clock=_ticking_clock())
    seen = []
    tracer.patch(Store, "probe", "store.probe", on_call=lambda s, a, r: seen.append(r))
    tracer.active = True
    assert Store().probe(3) == 6
    assert seen == [6] and tracer.spans[0].name == "store.probe"
    tracer.unpatch()
    tracer.spans.clear()
    assert Store().probe(1) == 2 and tracer.spans == []


def test_span_closed_out_of_order_is_an_error():
    tracer = Tracer()
    tracer.active = True
    a = tracer.open("a")
    tracer.open("b")
    with pytest.raises(RuntimeError):
        tracer.close(a)
