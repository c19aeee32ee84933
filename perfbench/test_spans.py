"""Tests of the benchmark's own logic: the event-log fold, span self time,
layer rollups, the counter-repeat check and the metric list.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import run
from spans import (
    Span,
    Tracer,
    event_files,
    fold_event_log,
    layer_rollup,
    repeat_mismatches,
    self_seconds,
    span_metrics,
    task_skew,
)

HERE = Path(__file__).resolve().parent
# Recorded from a local[2] session with the log rolled into two files:
# job group "span-0" ran spark.range(0, 1000, 1, 4) grouped by id % 7 (a
# 4-task map stage writing 7 partial counts each, then the reduce), and
# spark.range(10).count() (2 partitions) ran with no group. The first file
# ends inside the map stage, so its tasks' owner is known only from the
# job start in the first file.
RECORDED = HERE / "testdata" / "eventlog"


def test_fold_reads_every_rolled_file():
    files = event_files(RECORDED)
    assert [f.name.split("_")[1] for f in files] == ["1", "2"]
    fold = fold_event_log(RECORDED)
    grouped = fold["span-0"].counters
    assert grouped["jobs"] == 2
    assert grouped["shuffle_write_records"] == 4 * 7
    assert grouped["shuffle_read_records"] == 4 * 7
    assert grouped["shuffle_write_bytes"] > 0
    assert grouped["failed_tasks"] == 0
    assert len(fold["span-0"].stages[0]) == 4  # the map stage's four tasks
    assert fold[None].counters["jobs"] == 2
    # count() shuffles one partial count per input partition
    assert fold[None].counters["shuffle_write_records"] == 2


def _write_log(root: Path, events: list[dict]) -> Path:
    d = root / "eventlog_v2_local-1"
    d.mkdir(parents=True)
    (d / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    return root


def _task(stage: int, launch: int, finish: int, records: int = 0, failed=False) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed},
        "Task Metrics": {"Executor Run Time": finish - launch,
                         "Shuffle Write Metrics": {"Shuffle Records Written": records}},
    }


def _job(job: int, stages: list[int], group: str | None) -> dict:
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Properties": props}


def test_reused_stage_belongs_to_the_job_that_ran_it(tmp_path):
    log = _write_log(tmp_path, [
        _job(0, [0], "a"), _task(0, 0, 10, records=5),
        # job 1 lists stage 0 again (skipped, reused) and runs stage 1
        _job(1, [0, 1], "b"), _task(1, 10, 12, records=1), _task(1, 10, 13, failed=True),
    ])
    fold = fold_event_log(log)
    assert fold["a"].counters["shuffle_write_records"] == 5
    assert fold["b"].counters["shuffle_write_records"] == 1
    assert fold["b"].counters["tasks"] == 2
    assert fold["b"].counters["failed_tasks"] == 1


def test_task_skew_uses_the_slowest_stage():
    stages = {0: [(0, 10), (0, 10), (0, 40)], 1: [(0, 2), (0, 50), (0, 3), (0, 4)]}
    assert task_skew(stages) == pytest.approx(50 / 3.5)
    assert task_skew({}) == 0.0


def _span(i, layer, start, end, parent=None):
    return Span(id=i, layer=layer, call="c", parent=parent, group=f"g{i}", start=start, end=end)


def test_self_seconds_subtracts_covered_child_time_once():
    parent = _span(0, "operators.pagerank", 0.0, 10.0)
    kids = [_span(1, "graph.bsp", 1.0, 3.0, 0), _span(2, "graph.bsp", 2.0, 4.0, 0),
            _span(3, "graph.bsp", 6.0, 7.0, 0)]
    assert self_seconds(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)
    assert self_seconds(parent, []) == pytest.approx(10.0)


def test_counters_include_descendants_and_rollups_count_them_once(tmp_path):
    spans = [_span(0, "operators.wcc", 0.0, 4.0),
             _span(1, "graph.bsp", 1.0, 2.0, 0),
             _span(2, "graph.bsp", 2.0, 3.0, 0)]
    log = _write_log(tmp_path, [
        _job(0, [0], "g0"), _task(0, 0, 100, records=1),
        _job(1, [1], "g1"), _task(1, 0, 200, records=10),
        _job(2, [2], "g2"), _task(2, 0, 300, records=100),
    ])
    records = span_metrics(spans, fold_event_log(log), cores=1)
    assert [r["shuffle_write_records"] for r in records] == [111, 10, 100]
    assert records[0]["self_s"] == pytest.approx(2.0)
    ops = layer_rollup(records, "operators", cores=1)
    assert ops["shuffle_write_records"] == 111 and ops["jobs"] == 3
    assert ops["busy_frac"] == pytest.approx(0.6 / 4.0)
    bsp = layer_rollup(records, "graph.bsp", cores=1)
    assert bsp["shuffle_write_records"] == 110 and bsp["wall_s"] == pytest.approx(2.0)
    assert layer_rollup(records, "sources.outputs", cores=1)["wall_s"] == 0.0


class FakeContext:
    def __init__(self):
        self.group = None

    def setJobGroup(self, group, description):
        self.group = group

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


def test_tracer_sets_and_restores_job_groups():
    sc = FakeContext()
    tr = Tracer(run_id="t", sc=sc)
    with tr.span("operators.pagerank", "pagerank") as outer:
        assert sc.group == outer.group
        with tr.span("graph.bsp", "SuperstepLoop.materialize") as inner:
            assert sc.group == inner.group
        assert sc.group == outer.group
    assert sc.group is None
    assert [s.parent for s in tr.spans] == [None, 0]
    tr.enabled = False
    with tr.span("graph.bsp", "x") as s:
        assert s is None
    assert len(tr.spans) == 2


def _trace(records_per_span: dict) -> dict:
    return {"records": [
        {"name": name, "layer": name.rsplit(".", 1)[0], "shuffle_write_records": w,
         "shuffle_read_records": r}
        for name, (w, r) in records_per_span
    ]}


def test_repeat_check_finds_identical_operator_counters():
    a = _trace([("operators.pagerank.pagerank", (10, 10)), ("graph.bsp.m", (1, 1)),
                ("operators.closeness.closeness_centrality", (7, 7))])
    b = _trace([("operators.pagerank.pagerank", (10, 10)), ("graph.bsp.m", (2, 2)),
                ("operators.closeness.closeness_centrality", (7, 7))])
    assert repeat_mismatches(a, b) == []


def test_repeat_check_reports_a_changed_or_missing_operator_span():
    a = _trace([("operators.pagerank.pagerank", (10, 10)),
                ("operators.closeness.closeness_centrality", (7, 7))])
    b = _trace([("operators.pagerank.pagerank", (10, 11))])
    diffs = repeat_mismatches(a, b)
    assert any("shuffle_read_records: 10 != 11" in d for d in diffs)
    assert any("closeness" in d and "only in one" in d for d in diffs)
    assert repeat_mismatches(_trace([]), _trace([])) == ["no operators spans in the traces"]


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == ["corpus_wcc", "pagerank_closeness"]
