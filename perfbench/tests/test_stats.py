"""Median, percentile and span self-time arithmetic."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_median():
    assert stats.median([3.0]) == 3.0
    assert stats.median([5.0, 1.0, 3.0]) == 3.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_interpolates_like_numpy():
    import numpy as np

    values = [0.3, 1.0, 2.5, 2.5, 7.0, 9.1, 12.0]
    for p in (0, 10, 25, 50, 90, 99, 100):
        assert stats.percentile(values, p) == pytest.approx(np.percentile(values, p))
    with pytest.raises(ValueError):
        stats.percentile(values, 101)


def test_high_percentile_needs_ten_samples_beyond_it():
    assert stats.high_percentile(list(range(19))) is None
    assert stats.high_percentile(list(range(100)))[0] == 90.0
    assert stats.high_percentile(list(range(1000)))[0] == 99.0


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "pass", 0.0, 10.0),
        _span(1, "ingest", 1.0, 4.0, parent=0),
        _span(2, "ingest", 3.0, 6.0, parent=0),  # overlaps its sibling
        _span(3, "write", 2.0, 3.0, parent=1),  # grandchild: only ingest's
        _span(4, "report", 8.0, 12.0, parent=0),  # runs past its parent
    ]
    table = stats.self_times(spans)
    assert table["pass"] == {"count": 1, "total_s": 10.0, "self_s": pytest.approx(3.0)}
    assert table["ingest"]["count"] == 2
    assert table["ingest"]["total_s"] == pytest.approx(6.0)
    assert table["ingest"]["self_s"] == pytest.approx(5.0)
    assert table["write"]["self_s"] == pytest.approx(1.0)
    assert table["report"]["self_s"] == pytest.approx(4.0)


def test_tracer_nests_spans_and_times_when_disabled():
    from spans import Tracer

    t = Tracer(enabled=True)
    with t.span("outer"):
        with t.span("inner") as inner:
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    assert inner["dt"] >= 0 and t.spans[0]["run"] == t.spans[1]["run"]
    off = Tracer(enabled=False)
    with off.span("x") as rec:
        pass
    assert off.spans == [] and rec["dt"] >= 0
