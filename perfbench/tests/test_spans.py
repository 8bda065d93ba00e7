"""Span self-time arithmetic (no Spark needed).

Run with:  python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

from spans import Span, Tracer, covered, self_times  # noqa: E402


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1.0)
    assert covered([], 0, 1) == 0.0
    assert covered([(4, 5)], 0, 1) == 0.0


def test_self_time_subtracts_children():
    spans = [
        Span("op", 0.0, 10.0),
        Span("compiler", 1.0, 4.0, parent=0),
        Span("spark.job", 2.0, 3.0, parent=1),
        Span("rest", 5.0, 9.0, parent=0),
        Span("spark.job", 5.5, 8.0, parent=3),
        Span("spark.job", 6.0, 8.5, parent=3),  # overlaps its sibling
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(4.0 - 3.0)  # union of 5.5..8.5


def test_tracer_nests_and_attaches_jobs():
    tr = Tracer(enabled=True)
    tr.new_request()
    with tr.span("op") as op:
        with tr.span("compiler") as c:
            pass
    # a job submitted while "compiler" was open hangs under it
    tr.add_child("spark.job", c.start, c.end, {"jobs": 1})
    # a job outside every span of the request has no parent
    tr.add_child("spark.job", op.end + 1.0, op.end + 2.0, {"jobs": 1})
    names = [(s.name, s.parent) for s in tr.spans]
    assert names == [("op", None), ("compiler", 0), ("spark.job", 1), ("spark.job", None)]
    assert all(s.request == 1 for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op") as sp:
        assert sp is None
    tr.note("x", 1.0)
    assert tr.spans == [] and tr.notes == {}
