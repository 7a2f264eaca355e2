"""Tail percentile rule and span arithmetic."""

import pytest

from perfbench.tracing import Span, Tracer, covered, net_duration, self_times, tail


def test_tail_with_ten_or_fewer_samples_is_the_maximum():
    assert tail([3.0]) == (3.0, 100.0, 0)
    assert tail([float(x) for x in range(10)]) == (9.0, 100.0, 0)


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(x) for x in range(1, 101)]  # 1..100
    value, pct, beyond = tail(xs)
    assert (value, pct, beyond) == (90.0, 90.0, 10)
    assert sum(x > value for x in xs) == 10
    # eleven samples: the only qualifying rank is the minimum
    assert tail([5.0, *range(10, 20)]) == (5.0, pytest.approx(100 / 11), 10)
    # order of input does not matter
    assert tail(list(reversed(xs))) == (90.0, 90.0, 10)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0


def _span(i, parent, name, start, end, op=0):
    return Span(i, parent, op, name, start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, "pipeline", 0.0, 10.0),
        _span(1, 0, "a", 1.0, 4.0),
        _span(2, 0, "b", 3.0, 6.0),  # overlaps a: union is 1..6
        _span(3, 2, "c", 3.5, 4.5),  # grandchild: already inside b
        _span(4, 0, "d", 9.0, 12.0),  # runs past its parent: clipped at 10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(1)


def test_net_duration_removes_nested_probe_time_from_every_ancestor():
    spans = [
        _span(0, None, "op", 0.0, 10.0),
        _span(1, 0, "gold.scope", 1.0, 5.0),
        _span(2, 1, "probe", 2.0, 3.0),
        _span(3, 0, "probe", 8.0, 8.5),
    ]
    net = net_duration(spans)
    assert net[0] == pytest.approx(8.5)
    assert net[1] == pytest.approx(3.0)


def test_tracer_records_parent_and_op_only_while_enabled():
    t = Tracer()
    with t.span("ignored"):
        pass
    assert t.spans == []
    t.enabled, t.op = True, 7
    with t.span("outer"):
        with t.span("inner", table="optm"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.op == outer.op == 7 and inner.attrs == {"table": "optm"}
    assert outer.start <= inner.start <= inner.end <= outer.end
