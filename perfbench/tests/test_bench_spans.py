"""Self time of nested spans."""

import pytest

from perfbench.metrics import SpanView
from perfbench.spans import Tracer, covered


class FakeClock:
    """Each call returns the next scripted instant."""

    def __init__(self, ticks):
        self.ticks = list(ticks)

    def __call__(self):
        return self.ticks.pop(0)


def test_self_time_subtracts_children():
    # round [0, 10] with anti_join [1, 4] (holding counters [3, 4]) and
    # commit [5, 9]
    t = Tracer("w", "r", clock=FakeClock([0, 1, 3, 4, 4, 5, 9, 10]))
    with t.span("round") as rnd:
        with t.span("anti_join") as aj:
            with t.span("counters") as c:
                pass
        with t.span("commit") as cm:
            pass
    assert rnd.duration == 10
    assert t.self_time(rnd) == 10 - 3 - 4
    assert t.self_time(aj) == 3 - 1
    assert t.self_time(c) == 1
    assert t.self_time(cm) == 4
    assert c.parent == aj.id and aj.parent == rnd.id and cm.parent == rnd.id
    # self times over a tree add up to its root's duration
    assert sum(t.self_time(s) for s in t.spans) == rnd.duration


def test_overlapping_children_are_counted_once():
    assert covered(0, 10, [(1, 5), (3, 7), (8, 12)]) == 6 + 2
    assert covered(0, 10, []) == 0
    assert covered(2, 4, [(0, 10)]) == 2


def test_round_tag_and_open_span():
    t = Tracer("w", "r", clock=FakeClock([0, 1, 2, 3]))
    t.round = 7
    with t.span("a") as a:
        with pytest.raises(ValueError):
            _ = a.duration
        with t.span("b", round=8) as b:
            pass
    assert a.round == 7 and b.round == 8
    assert [row["self"] for row in t.rows()] == [2, 1]


def test_record_adds_a_closed_root():
    t = Tracer("w", "r")
    s = t.record("session.start", 1.0, 3.5)
    assert s.parent is None and s.duration == 2.5 and t.spans == [s]


def test_self_sum_gap_is_call_time_no_span_covers():
    # crawl [0, 3] holding a round [1, 2], then requeue [10, 13]; the
    # benchmark timed the two calls at 3.5 s and 3.5 s
    t = Tracer("w", "r", clock=FakeClock([0, 1, 2, 3, 10, 13]))
    with t.span("driver.crawl"):
        with t.span("round.run_round"):
            pass
    with t.span("driver.requeue"):
        pass
    assert SpanView(t).self_sum_gap(3.5 + 3.5) == pytest.approx(1.0)
    assert SpanView(t).self_sum_gap(6.0) == 0
