import pytest

from measure import Tracer, covered, summarize


def test_summary_median_and_count():
    assert summarize([5.0, 1.0, 3.0, 2.0, 4.0, 6.0]) == {"median": 3.5, "n": 6}
    assert summarize([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}


def test_summary_single_sample():
    assert summarize([2.5]) == {"median": 2.5, "n": 1}


def test_summary_rejects_empty():
    with pytest.raises(ValueError):
        summarize([])


def test_covered_merges_overlaps_and_clips():
    # [1,3] and [2,5] merge to [1,5]; [8,12] is clipped to [8,10]
    assert covered(0.0, 10.0, [(2.0, 5.0), (8.0, 12.0), (1.0, 3.0)]) == pytest.approx(6.0)
    assert covered(0.0, 10.0, []) == 0.0
    assert covered(0.0, 10.0, [(11.0, 12.0)]) == 0.0


def test_self_time_subtracts_children_only():
    t = Tracer()
    root = t.add("run", 0.0, 10.0)
    a = t.add("a", 1.0, 3.0, root)
    t.add("b", 2.0, 5.0, root)
    t.add("a.inner", 1.5, 2.5, a)  # a grandchild does not reduce the root
    assert t.self_time(root) == pytest.approx(6.0)
    assert t.self_time(a) == pytest.approx(1.0)
    assert [t.self_time(s.id) for s in t.spans[2:]] == pytest.approx([3.0, 1.0])
    # self times of a tree add up to the root's duration when children nest
    t2 = Tracer()
    r = t2.add("run", 0.0, 4.0)
    t2.add("x", 0.0, 1.0, r)
    t2.add("y", 1.0, 4.0, r)
    assert sum(t2.self_time(s.id) for s in t2.spans) == pytest.approx(4.0)


def test_span_context_records_interval():
    t = Tracer()
    with t.span("outer") as o:
        with t.span("inner", o) as i:
            pass
    assert t.spans[i].parent == o
    assert t.spans[o].start <= t.spans[i].start <= t.spans[i].end <= t.spans[o].end
