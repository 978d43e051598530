import os

import pytest

import spans as tr

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "tiny_eventlog.jsonl")


def _span(i, parent, start, end, name="s"):
    return tr.Span(i, name, parent, "r", start, end)


def test_union_length_merges_overlaps():
    assert tr.union_length([]) == 0
    assert tr.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert tr.union_length([(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: covered once
        _span(3, 0, 9.0, 12.0),  # runs past the parent: clipped
        _span(4, 1, 1.5, 2.5),  # grandchild: charged to span 1 only
    ]
    st = tr.self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 1)
    assert st[1] == pytest.approx(2 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(1)


def test_tracer_nests_spans():
    t = tr.Tracer("r")
    with t.span("a"):
        with t.span("b"):
            pass
        with t.span("c"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("a", None), ("b", 0), ("c", 0)]
    assert all(s.end >= s.start for s in t.spans)


def test_reducer_counts_recorded_log():
    with open(DATA) as f:
        counts = tr.reduce_event_log(f, "t")
    assert set(counts) == {0, 1}  # the ungrouped job is ignored
    scan, shuffle = counts[0], counts[1]
    assert (scan.jobs, scan.stages, scan.tasks) == (1, 1, 4)
    assert (shuffle.jobs, shuffle.stages, shuffle.tasks) == (1, 2, 7)
    assert scan.counters["shuffle_records"] == 0
    assert shuffle.counters["shuffle_records"] == 1000
    assert shuffle.counters["shuffle_read_records"] == 1000
    assert shuffle.counters["shuffle_write_bytes"] > 0
    assert scan.sql[("Range", "number of output rows")] == 1000
    assert shuffle.sql[("Range", "number of output rows")] == 1000
    assert 0 < scan.busy_s and 0 < shuffle.busy_s
    total = tr.rollup([_span(0, None, 0, 1), _span(1, 0, 0, 1)], counts, [0])
    assert (total.jobs, total.stages, total.tasks) == (2, 3, 11)
    with open(DATA) as f:
        assert tr.distinct_plans(f) == 3
