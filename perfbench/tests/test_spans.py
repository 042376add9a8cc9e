"""Self-time arithmetic and span/job-group bookkeeping."""

import pytest

from perfbench.spans import Tracer, merge_intervals, self_segments, subtract_intervals


def test_merge_intervals_unions_overlaps_and_drops_empty():
    assert merge_intervals([(5, 6), (1, 3), (2, 4), (7, 7)]) == [(1, 4), (5, 6)]


def test_subtract_intervals_clips_holes_to_span():
    assert subtract_intervals((0, 10), [(-1, 1), (3, 4), (3.5, 5), (9, 12)]) == [
        (1, 3),
        (5, 9),
    ]
    assert subtract_intervals((0, 1), [(0, 1)]) == []


def test_self_segments_subtract_direct_children_only():
    spans = [
        {"id": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "b", "parent": "a", "start": 1.0, "end": 4.0},
        {"id": "c", "parent": "b", "start": 2.0, "end": 3.0},
        {"id": "d", "parent": "a", "start": 6.0, "end": 7.0},
    ]
    seg = self_segments(spans)
    assert seg["a"] == [(0.0, 1.0), (4.0, 6.0), (7.0, 10.0)]
    assert seg["b"] == [(1.0, 2.0), (3.0, 4.0)]
    assert seg["c"] == [(2.0, 3.0)]
    total_self = sum(b - a for s in seg.values() for a, b in s)
    assert total_self == pytest.approx(10.0)


class FakeContext:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_tracer_tags_innermost_span_and_restores_parent():
    sc = FakeContext()
    t = Tracer(sc)
    seen = []
    with t.span("frontier.loop"):
        seen.append(sc.props["spark.jobGroup.id"])
        with t.span("frontier.insert"):
            seen.append(sc.props["spark.jobGroup.id"])
        seen.append(sc.props["spark.jobGroup.id"])
    assert seen[0] == seen[2] != seen[1]
    assert sc.props["spark.jobGroup.id"] is None
    inner, outer = t.spans  # closed innermost first
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_wrap_picks_layer_per_call_and_passes_results():
    t = Tracer(FakeContext())
    f = t.wrap(lambda x: x * 2, lambda x: "a.b" if x > 1 else None)
    assert f(1) == 2 and t.spans == []
    assert f(3) == 6 and [s["layer"] for s in t.spans] == ["a.b"]


def test_install_restores_engine_calls():
    from dart_xbrl_crawler_spark.operators.frontier import FrontierStore
    from dart_xbrl_crawler_spark.sources.checkpoint import SnapshotTable

    before = (FrontierStore.run_crawl, SnapshotTable.commit)
    t = Tracer(FakeContext())
    with t.install():
        assert FrontierStore.run_crawl is not before[0]
    assert (FrontierStore.run_crawl, SnapshotTable.commit) == before
