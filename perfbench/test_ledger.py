"""Tests for the benchmark's own arithmetic (no Spark needed):

    python -m pytest perfbench
"""

import pytest

from ledger import (
    Tracer,
    interval_union,
    median,
    percentile,
    self_time,
    summarize,
    supported_tail,
)


def test_union_counts_overlapping_jobs_once():
    # two concurrent jobs inside one second of wall: busy 1.0, not 1.5
    assert interval_union([(0.0, 1.0), (0.5, 1.0)]) == pytest.approx(1.0)
    assert interval_union([(0.0, 1.0), (0.2, 0.4), (0.3, 0.9)]) == pytest.approx(1.0)


def test_union_adds_disjoint_and_touching_intervals():
    assert interval_union([(2.0, 3.0), (0.0, 1.0)]) == pytest.approx(2.0)
    assert interval_union([(0.0, 1.0), (1.0, 2.0)]) == pytest.approx(2.0)
    assert interval_union([]) == 0.0


def test_union_clips_to_window():
    assert interval_union([(-1.0, 0.5), (0.8, 3.0)], lo=0.0, hi=1.0) == pytest.approx(0.7)
    assert interval_union([(2.0, 3.0)], lo=0.0, hi=1.0) == 0.0


def test_union_never_exceeds_window():
    jobs = [(0.1 * i, 0.1 * i + 0.5) for i in range(20)]
    assert interval_union(jobs, lo=0.0, hi=1.0) <= 1.0


def test_self_time_subtracts_covered_part_once():
    span = {"start": 0.0, "end": 10.0}
    kids = [
        {"start": 1.0, "end": 4.0},
        {"start": 3.0, "end": 5.0},  # overlaps the first child
        {"start": 9.0, "end": 12.0},  # runs past the parent's end
    ]
    assert self_time(span, kids) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time(span, []) == pytest.approx(10.0)


def test_tracer_self_times_and_parents():
    tr = Tracer(True)
    tr.request = "r1"
    root = tr.add("request", 0.0, 10.0)
    tr.add("ivf.execute", 2.0, 6.0, parent=root)
    tr.add("spark.job", 3.0, 5.0, parent=tr.innermost("r1", 3.0, root=root))
    st = tr.self_times()
    assert st["request"] == pytest.approx(6.0)
    assert st["ivf.execute"] == pytest.approx(2.0)
    assert st["spark.job"] == pytest.approx(2.0)


def test_tracer_disabled_records_nothing():
    tr = Tracer(False)
    with tr.span("request"):
        tr.add("x", 0.0, 1.0)
    assert tr.spans == []


def test_tracer_span_nesting():
    tr = Tracer(True)
    with tr.span("outer") as outer:
        with tr.span("inner"):
            pass
    assert tr.spans[1]["parent"] == outer
    assert tr.spans[0]["end"] >= tr.spans[1]["end"]


def test_tail_needs_ten_samples_beyond():
    assert supported_tail(99) is None
    assert supported_tail(100) == 0.9
    assert supported_tail(999) == 0.9
    assert supported_tail(1000) == 0.99
    assert supported_tail(10000) == 0.999


def test_summarize_reports_tail_only_when_supported():
    assert set(summarize([1.0] * 99)) == {"n", "p50"}
    s = summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and "p90" in s
    assert s["p90"] == pytest.approx(89.1)
    assert summarize([]) == {"n": 0}


def test_percentile_interpolates():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1.0, 2.0, 3.0, 4.0]) == pytest.approx(2.5)
    assert percentile([0.0, 10.0], 0.9) == pytest.approx(9.0)
    with pytest.raises(ValueError):
        percentile([], 0.5)
