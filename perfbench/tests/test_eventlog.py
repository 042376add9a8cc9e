"""The event-log reader against a tiny recorded log (tests/data)."""

import os
import shutil

import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data")
T0 = 1_800_000_000.0  # the fixture's time origin, in seconds

SPANS = [
    {"id": "perfbench-span-0", "layer": "frontier.loop", "parent": None,
     "start": T0, "end": T0 + 10.0},
    {"id": "perfbench-span-1", "layer": "frontier.fetch", "parent": "perfbench-span-0",
     "start": T0 + 0.5, "end": T0 + 7.5},
    {"id": "perfbench-span-2", "layer": "checkpoint.delta_commit",
     "parent": "perfbench-span-1", "start": T0 + 4.5, "end": T0 + 7.2},
]


@pytest.fixture(scope="module")
def stages(tmp_path_factory):
    d = tmp_path_factory.mktemp("ev")
    shutil.copy(os.path.join(DATA, "tiny_eventlog.jsonl"), d / "local-1")
    return eventlog.read_stages(eventlog.log_files(str(d)))


def test_stage_groups_operators_and_task_metrics(stages):
    assert sorted(stages) == [0, 1, 2, 3, 4]
    assert stages[0].group == "perfbench-span-1" and stages[4].group is None
    assert any(n == "ArrowEvalPython" for n, _ in stages[0].ops)
    assert {n for n, _ in stages[1].ops} == {"Window"}
    assert stages[0].canon_rows == 100
    assert stages[1].failed_tasks == 1
    assert stages[2].rows_written == 50 and stages[2].bytes_written == 5_000


def test_stage_layers_follow_rules_then_spans(stages):
    layers = eventlog.stage_layers(SPANS, stages)
    assert layers == {
        0: "urls.canon",  # canonicalizer UDF, whichever span ran it
        1: "politeness.pop",  # Window
        2: "checkpoint.delta_commit",  # the commit's writing stage
        3: "frontier.fetch",  # writes nothing: upstream work of the parent
    }


def test_layer_table_splits_wall_time_exactly(stages):
    t = eventlog.layer_table(SPANS, stages)
    wall = {k: v["wall_s"] for k, v in t.items() if v["wall_s"]}
    assert wall == pytest.approx(
        {
            "frontier.loop": 3.0,
            "urls.canon": 1.5,  # alone 1 s, shares 1 s with the Window stage
            "politeness.pop": 1.5,
            "frontier.fetch": 2.3,  # idle span time + stage 3
            "checkpoint.delta_commit": 1.7,
        }
    )
    assert sum(wall.values()) == pytest.approx(10.0)


def test_layer_table_task_metrics(stages):
    t = eventlog.layer_table(SPANS, stages)
    canon, pop, commit = t["urls.canon"], t["politeness.pop"], t["checkpoint.delta_commit"]
    assert canon["task_s"] == pytest.approx(0.4)
    assert canon["shuffle_mb"] == pytest.approx(3.0)
    assert canon["rows_out"] == 100 and canon["stages"] == 1
    assert canon["skew"] == pytest.approx(1.5)  # max 300 / median 200
    assert pop["failed_tasks"] == 1 and pop["shuffle_mb"] == pytest.approx(3.0)
    assert commit["spill_mb"] == pytest.approx(7.0) and commit["rows_out"] == 50
    assert t["extract.sink"]["stages"] == 0 and t["extract.sink"]["wall_s"] == 0.0
    assert set(t) == set(eventlog.LAYERS)


def test_descendants_cover_nested_spans():
    assert eventlog.descendants(SPANS, "frontier.fetch") == {
        "perfbench-span-1",
        "perfbench-span-2",
    }
