import pytest

import tracing


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def span(sid, start, end, parent=None, name="x"):
    return tracing.Span(sid, name, None, parent, start, end)


def test_self_time_subtracts_union_of_children():
    parent = span(0, 0.0, 10.0)
    kids = [span(1, 1.0, 3.0, 0), span(2, 2.0, 5.0, 0), span(3, 8.0, 12.0, 0)]
    # children cover [1, 5] and [8, 10] of the parent: 4 + 2 seconds
    assert tracing.self_time(parent, kids) == pytest.approx(4.0)


def test_self_time_without_children_is_duration():
    assert tracing.self_time(span(0, 2.0, 7.5), []) == pytest.approx(5.5)


def test_self_times_only_subtract_direct_children():
    spans = [span(0, 0, 10, None, "a"), span(1, 1, 9, 0, "b"), span(2, 2, 4, 1, "c")]
    own = tracing.self_times(spans)
    assert own == {0: pytest.approx(2.0), 1: pytest.approx(6.0), 2: pytest.approx(2.0)}
    assert sum(own.values()) == pytest.approx(spans[0].duration)


def test_descendants_walks_every_level():
    spans = [span(0, 0, 10), span(1, 1, 9, 0), span(2, 2, 4, 1), span(3, 5, 6, 1),
             span(4, 11, 12)]
    children = tracing.children_of(spans)
    assert sorted(s.sid for s in tracing.descendants(children, 0)) == [1, 2, 3]
    assert tracing.descendants(children, 4) == []


def test_tracer_records_parents_and_trace_ids():
    clock = FakeClock()
    t = tracing.Tracer(clock=clock)
    with t.span("outer", trace_id="q1"):
        clock.now = 1.0
        with t.span("inner"):
            clock.now = 3.0
        clock.now = 4.0
    with t.span("other"):
        clock.now = 5.0
    outer, inner, other = t.spans
    assert inner.parent == outer.sid and inner.trace_id == "q1"
    assert other.parent is None and other.trace_id is None
    own = tracing.self_times(t.spans)
    assert [own[s.sid] for s in t.spans] == [
        pytest.approx(2.0), pytest.approx(2.0), pytest.approx(1.0)]


def test_wrap_traces_calls_and_restore_puts_originals_back():
    class Target:
        def work(self, x):
            return x * 2

    original = Target.work
    seen = []
    t = tracing.Tracer()
    t.wrap(Target, "work", "target.work", on_return=lambda s, r: seen.append((s.sid, r)))
    assert Target().work(21) == 42
    assert [s.name for s in t.spans] == ["target.work"] and seen == [(0, 42)]
    t.restore()
    assert Target.work is original
