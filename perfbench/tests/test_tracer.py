"""Span bookkeeping: self times, time-containment parenting, busy
time. Runs without Spark, on a hand-driven clock."""

from __future__ import annotations

import threading

import pytest
from tracer import Tracer, union_length
from workloads import tail


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t

    def tick(self, dt: float) -> None:
        self.t += dt


def _tracer():
    clock = Clock()
    return Tracer(clock=clock), clock


def test_nested_self_times_add_up_to_parent():
    tr, clock = _tracer()
    with tr.span("op.x"):
        clock.tick(1.0)
        with tr.span("a"):
            clock.tick(2.0)
            with tr.span("a.inner"):
                clock.tick(0.5)
        clock.tick(0.25)
        with tr.span("b"):
            clock.tick(3.0)
    st = tr.self_times()
    root = tr.spans[0]
    assert all(v >= 0 for v in st.values())
    kids = tr.children()
    for s in tr.spans:
        covered = sum(c.duration for c in kids.get(s.sid, ()))
        assert st[s.sid] + covered == pytest.approx(s.duration)
    assert sum(st.values()) == pytest.approx(root.duration)
    assert st[0] == pytest.approx(1.25)


def test_pool_thread_spans_parent_by_containment_and_overlap_counts_once():
    tr, clock = _tracer()
    with tr.span("plans.migrate"):
        clock.tick(1.0)
        done = []

        def worker(name):
            with tr.span(name):
                done.append(name)

        # two pool-thread spans that overlap in time: [1, 4] and [2, 5]
        t1 = threading.Thread(target=worker, args=("snapcat.write",), name="pool-1")
        t1.start()
        t1.join()
        t2 = threading.Thread(target=worker, args=("snapcat.write",), name="pool-2")
        t2.start()
        t2.join()
        clock.tick(5.0)
    w1, w2 = tr.spans[1], tr.spans[2]
    w1.start, w1.end, w2.start, w2.end = 1.0, 4.0, 2.0, 5.0
    tr.finalize()
    assert w1.parent == 0 and w2.parent == 0
    st = tr.self_times()
    assert all(v >= 0 for v in st.values())
    # self + union of children == duration, overlapping children once
    assert st[0] + union_length([(1.0, 4.0), (2.0, 5.0)]) == pytest.approx(tr.spans[0].duration)
    assert tr.busy("snapcat.write") == pytest.approx(4.0)
    assert tr.calls("snapcat.write") == 2


def test_paused_records_nothing_and_wrap_restores():
    tr, clock = _tracer()

    class Thing:
        def f(self, x):
            clock.tick(1.0)
            return x + 1

    tr.wrap(Thing, "f", "thing.f")
    assert Thing().f(1) == 2
    with tr.paused():
        Thing().f(1)
    assert [s.name for s in tr.spans] == ["thing.f"]
    tr.unwrap_all()
    Thing().f(1)
    assert len(tr.spans) == 1


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 101))
    value, pct, n = tail(xs)
    assert n == 100 and value == 90 and pct == pytest.approx(90.0)
    assert sum(1 for x in xs if x > value) == 10
    assert tail([3.0, 1.0]) == (3.0, 100.0, 2)
