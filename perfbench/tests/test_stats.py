"""Percentile selection and self-time arithmetic."""

import threading

import pytest

from perfbench.stats import beyond, min_samples, percentile, self_time, supported
from perfbench.trace import Span, Tracer


def test_min_samples_for_ten_beyond():
    assert min_samples(0.5) == 20
    assert min_samples(0.9) == 100
    assert min_samples(0.99) == 1000


def test_p90_needs_ten_samples_beyond():
    assert supported(list(range(100)), 0.9)
    assert beyond(list(range(100)), 0.9) == 10
    assert not supported(list(range(99)), 0.9)
    # ties at the top leave fewer than ten strictly beyond
    assert not supported([1.0] * 92 + [2.0] * 8, 0.9)


def test_nearest_rank_percentile():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 0.5) == 3
    assert percentile(list(range(1, 101)), 0.9) == 90
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_self_time_subtracts_union_of_children():
    # children overlap (1-3, 2-4) and one reaches past the parent (8-12)
    assert self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == pytest.approx(5.0)
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(0.0, 10.0)]) == 0.0
    assert self_time(5.0, 6.0, [(1.0, 2.0)]) == 1.0


def test_tracer_self_times_over_a_span_tree():
    tr = Tracer()
    tr.spans = [
        Span(0, "http_app.request", 0.0, 10.0, None, "op1"),
        Span(1, "engine.query", 1.0, 9.0, 0, "op1"),
        Span(2, "sqlgate.classify", 1.0, 2.0, 1, "op1"),
        Span(3, "spark.sql", 3.0, 7.0, 1, "op1"),
    ]
    st = tr.self_times()
    assert st["http_app.request"] == pytest.approx(2.0)
    assert st["engine.query"] == pytest.approx(3.0)
    assert st["sqlgate.classify"] == pytest.approx(1.0)
    assert st["spark.sql"] == pytest.approx(4.0)
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_tracer_records_parents_per_thread_and_only_inside_ops():
    tr = Tracer()
    with tr.span("ignored"):
        pass
    assert tr.spans == []

    def work(op):
        tr.begin_op(op)
        with tr.span("http_app.request"):
            with tr.span("engine.query"):
                tr.count("results.rows", 3)
        tr.end_op()

    threads = [threading.Thread(target=work, args=(f"op{i}",)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    by_id = {s.id: s for s in tr.spans}
    children = [s for s in tr.spans if s.name == "engine.query"]
    assert len(children) == 4
    for c in children:
        parent = by_id[c.parent]
        assert parent.name == "http_app.request" and parent.op == c.op
    assert tr.counts["results.rows"] == 12


def test_wrap_and_patcher_restore():
    import types

    from perfbench.trace import Patcher

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    tr = Tracer()
    p = Patcher()
    p.set(mod, "f", lambda f: tr.wrap(f, "engine.f"))
    p.set(mod, "gone", lambda f: f)
    assert p.missing and p.missing[0].endswith(".gone")
    assert mod.f(1) == 2 and tr.spans == []
    tr.begin_op("op")
    assert mod.f(2) == 3
    tr.end_op()
    assert [s.name for s in tr.spans] == ["engine.f"]
    p.restore()
    assert mod.f is original
