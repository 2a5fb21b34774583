"""The event-log fold on a small recorded log.

The log (tests/data/eventlog_small.jsonl) was recorded from a local[2]
session that ran, inside span "build", a pandas-UDF filter
``even(id)`` over range(2000) joined with range(500) and written to
``.../planet/points_sorted``, and inside span "lookup" a count of the
written table; it keeps only the events and fields eventlog.py reads.
The optimizer pushes the UDF filter to both join sides, so the UDF sees
2500 rows and 250 rows are written."""

import json
import os

import pytest

import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
LOG = os.path.join(DATA, "eventlog_small.jsonl")


@pytest.fixture
def spans():
    with open(os.path.join(DATA, "eventlog_small.spans.json")) as f:
        return json.load(f)


def test_spans_account_for_every_task(spans):
    f = eventlog.fold(LOG, spans)
    assert f["total"]["task_s"] > 0
    assert f["attributed_task_s"] == pytest.approx(f["total"]["task_s"], rel=0.05)
    build, lookup = f["spans"]
    assert build["jobs"] == 2 and lookup["jobs"] == 3
    assert build["tasks"] + lookup["tasks"] == f["total"]["tasks"]
    # the pandas UDF ran in the build span only
    assert build["py_s"] > 0 and build["py_mb"] > 0
    assert lookup["py_s"] == 0 and lookup["py_mb"] == 0
    for s in (build, lookup):
        assert 0 <= s["idle_s"] <= s["wall_s"]


def test_jobs_outside_spans_are_not_attributed(spans):
    f = eventlog.fold(LOG, spans[:1])
    assert f["attributed_task_s"] < f["total"]["task_s"]
    assert f["attributed_task_s"] == pytest.approx(f["spans"][0]["task_s"])


def test_build_stage_from_write_target(spans):
    f = eventlog.fold(LOG, spans)
    assert set(f["stages"]) == {"points_sorted"}
    assert f["stages"]["points_sorted"]["task_s"] == pytest.approx(f["spans"][0]["task_s"])
    # stages are only attributed inside the named build spans
    assert eventlog.fold(LOG, spans, stage_spans=())["stages"] == {}


def test_sql_metrics_by_plan_node(spans):
    build, lookup = eventlog.fold(LOG, spans)["sql"]
    assert build["ArrowEvalPython:number of output rows"] == 2500
    assert build["Filter:number of output rows"] == 1250
    assert build["BroadcastHashJoin:number of output rows"] == 250
    assert build["Execute InsertIntoHadoopFsRelationCommand:number of output rows"] == 250
    assert lookup["Scan parquet:number of files read"] == 1
    assert lookup["Scan parquet:number of output rows"] == 250


def test_write_target_stage_names():
    plan = (
        "(3) Execute InsertIntoHadoopFsRelationCommand\nInput: [a#1]\n"
        "Arguments: file:/w/planet/tile_tree__compact_tmp, false, Parquet, [], Overwrite, [a]\n"
    )
    assert eventlog.write_target_stage(plan) == "tile_tree"
    assert eventlog.write_target_stage("== Physical Plan ==\nHashAggregate") is None


def test_union_length_and_find_log(tmp_path):
    assert eventlog._union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.8)]) == pytest.approx(4)
    (tmp_path / "local-1.inprogress").write_text("")
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "local-2").write_text("")
    assert eventlog.find_log(str(tmp_path)).endswith("local-2")
