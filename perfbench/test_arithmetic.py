"""Tests of the benchmark's own arithmetic: percentiles, quartile spread,
span self time and open-loop freshness. No Spark needed:

    python3 -m pytest perfbench -q
"""

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench.run import spread  # noqa: E402
from perfbench.trace import Tracer, covered, percentile, self_time  # noqa: E402
from perfbench.workloads import _backlog_max, freshness  # noqa: E402


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == statistics.median(xs) == 2.5
    assert percentile(xs, 75) == 3.25
    assert percentile([7.0], 90) == 7.0
    assert percentile([], 50) == 0.0


def test_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    med, q1, q3, sp = spread(xs)
    want_q1, _, want_q3 = statistics.quantiles(xs, n=4)
    assert (q1, q3) == (want_q1, want_q3)
    assert med == 14.5
    assert sp == (want_q3 - want_q1) / 14.5


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0.0
    assert covered([(0, 1), (2, 3)]) == 2.0
    assert covered([(0, 2), (1, 3)]) == 3.0
    assert covered([(0, 5), (1, 2), (3, 4)]) == 5.0


def test_self_time_subtracts_children_clipped_to_parent():
    parent = {"t0": 0.0, "t1": 10.0}
    kids = [{"t0": 1.0, "t1": 3.0}, {"t0": 2.0, "t1": 4.0},
            {"t0": 9.0, "t1": 12.0}]
    # children cover [1, 4] and [9, 10] inside the parent
    assert self_time(parent, kids) == 10.0 - 3.0 - 1.0
    assert self_time(parent, []) == 10.0


def test_sequential_children_plus_self_rebuild_the_span():
    tr = Tracer(enabled=True)
    with tr.span("epoch"):
        with tr.span("read"):
            pass
        with tr.span("write"):
            with tr.span("commit"):
                pass
    epoch = tr.named("epoch")[0]
    kids = tr.children(epoch["id"])
    assert [k["name"] for k in kids] == ["read", "write"]
    total = tr.self_s(epoch) + sum(k["t1"] - k["t0"] for k in kids)
    assert abs(total - (epoch["t1"] - epoch["t0"])) < 1e-9
    assert {d["name"] for d in tr.descendants(epoch["id"])} == {
        "read", "write", "commit"}


def test_wrap_records_a_span_per_call_and_unwraps():
    class Thing:
        def work(self, x):
            return x + 1

    tr = Tracer(enabled=True)
    tr.wrap(Thing, "work", "layer.work")
    assert Thing().work(1) == 2
    assert Thing().work(2) == 3
    assert len(tr.named("layer.work")) == 2
    tr.unwrap_all()
    assert "traced" not in Thing.__dict__["work"].__code__.co_name
    Thing().work(3)
    assert len(tr.named("layer.work")) == 2


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as rec:
        assert rec is None
    assert tr.spans == []


def test_freshness_counts_from_the_due_time():
    landed = {3: {"due": 100.0, "landed": 100.4},
              4: {"due": 102.0, "landed": 102.1}}
    committed = {3: 101.5, 4: 104.0}
    assert freshness(committed, landed, [3, 4]) == [1.5, 2.0]


def test_backlog_counts_landed_but_uncommitted_segments():
    landed = {1: {"landed": 0.0}, 2: {"landed": 1.0}, 3: {"landed": 2.0}}
    # segment 1 commits late, after 2 and 3 have landed
    committed = {1: 2.5, 2: 3.0, 3: 3.5}
    assert _backlog_max(landed, committed, [1, 2, 3]) == 3
    committed = {1: 0.5, 2: 1.5, 3: 2.5}
    assert _backlog_max(landed, committed, [1, 2, 3]) == 1
