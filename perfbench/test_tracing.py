"""Roll-up arithmetic on a small synthetic event log.

Run with: python3 -m pytest perfbench/test_tracing.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing as T  # noqa: E402


def _job_start(job_id, t_ms, stage_ids, tags=""):
    return {
        "Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t_ms,
        "Stage IDs": stage_ids, "Properties": {"spark.job.tags": tags},
    }


def _job_end(job_id, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": t_ms,
            "Job Result": {"Result": "JobSucceeded"}}


def _stage(stage_id):
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage_id}}


def _task(stage_id, launch, finish, run, deser=0, ser=0, gc=0, shuffle=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run, "Executor Deserialize Time": deser,
            "Result Serialization Time": ser, "JVM GC Time": gc,
            "Executor CPU Time": run * 1_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


@pytest.fixture()
def spans_and_log(tmp_path):
    # run [0, 10] s
    #   grid [1, 6]: jobs 0 [1.5, 4] and 1 [3, 5] overlap (tag of grid);
    #                job 3 [2, 2.5] carries no tag (attributed by time)
    #   refit [6, 9]: job 2 [6.5, 8], reuses stage 1 (skipped) and runs stage 2
    spans = [
        T.Span("run", 0.0, 10.0, None, "perfbench-span-0"),
        T.Span("grid", 1.0, 6.0, 0, "perfbench-span-1"),
        T.Span("refit", 6.0, 9.0, 0, "perfbench-span-2"),
    ]
    events = [
        _job_start(0, 1500, [0], "perfbench-span-1"),
        _job_start(1, 3000, [1], "other,perfbench-span-1"),
        _job_start(3, 2000, [3]),
        _stage(0), _stage(1), _stage(3),
        _task(0, 1500, 2500, run=800, deser=100, ser=50, gc=20, shuffle=2 * 1024 * 1024),
        _task(0, 1500, 3500, run=1900),
        _task(1, 3000, 4000, run=1000, failed=True),
        _task(3, 2000, 2400, run=400),
        _job_end(0, 4000), _job_end(1, 5000), _job_end(3, 2500),
        _job_start(2, 6500, [1, 2], "perfbench-span-0,perfbench-span-2"),
        _stage(2),
        _task(2, 6500, 7500, run=1000),
        _job_end(2, 8000),
    ]
    path = tmp_path / "eventlog"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return spans, T.read_event_log(str(path))


def test_union_length_merges_overlaps():
    assert T.union_length([(1, 4), (3, 5), (7, 8)]) == 5
    assert T.union_length([]) == 0
    assert T.union_length([(0, 10), (2, 3)]) == 10
    assert T.clip([(0, 4), (5, 9)], 2, 6) == [(2, 4), (5, 6)]


def test_jobs_go_to_deepest_tagged_span_or_by_time(spans_and_log):
    spans, log = spans_and_log
    owned = T.assign_jobs(spans, log)
    assert sorted(owned[1]) == [0, 1, 3]
    assert owned[2] == [2]
    assert 0 not in owned


def test_self_time_and_driver_time(spans_and_log):
    spans, log = spans_and_log
    m = T.rollup(spans, log, cores=4)
    # run: 10 s wall, children cover [1, 9] -> 2 s self
    assert m["run"]["wall_s"] == pytest.approx(10.0)
    assert m["run"]["self_s"] == pytest.approx(2.0)
    # grid: jobs cover [1.5, 5] (union of overlapping 1.5-4, 3-5, 2-2.5)
    assert m["grid"]["driver_s"] == pytest.approx(5.0 - 3.5)
    assert m["refit"]["driver_s"] == pytest.approx(3.0 - 1.5)
    # self times of all spans add up to the root's wall
    assert sum(v["self_s"] for v in m.values()) == pytest.approx(10.0)


def test_task_totals_and_ratios(spans_and_log):
    spans, log = spans_and_log
    grid = T.rollup(spans, log, cores=4)["grid"]
    assert grid["jobs"] == 3 and grid["stages"] == 3 and grid["tasks"] == 4
    assert grid["task_s"] == pytest.approx(4.1)
    assert grid["gc_s"] == pytest.approx(0.02)
    assert grid["sched_wait_s"] == pytest.approx(0.15)
    assert grid["shuffle_mb"] == pytest.approx(2.0)
    assert grid["failed_tasks"] == 1
    assert grid["core_busy"] == pytest.approx(4.1 / (5.0 * 4))
    refit = T.rollup(spans, log, cores=4)["refit"]
    assert refit["stages"] == 2 and refit["stage_skip_frac"] == pytest.approx(0.5)
    assert refit["tasks"] == 1


def test_grouping_sums_instances_before_ratios(spans_and_log):
    spans, log = spans_and_log
    m = T.rollup(spans, log, cores=4, group=lambda n: n if n == "run" else "models")
    assert set(m) == {"run", "models"}
    assert m["models"]["wall_s"] == pytest.approx(8.0)
    assert m["models"]["jobs"] == 4
    assert m["models"]["core_busy"] == pytest.approx(5.1 / (8.0 * 4))


class FakeSc:
    def __init__(self):
        self.tags = set()

    def addJobTag(self, t):
        assert "," not in t
        self.tags.add(t)

    def removeJobTag(self, t):
        self.tags.discard(t)


def test_tracer_keeps_one_tag_per_thread():
    sc, tr = FakeSc(), T.Tracer()
    tr.attach(sc)
    with tr.span("outer"):
        assert sc.tags == {"perfbench-span-0"}
        with tr.span("inner"):
            assert sc.tags == {"perfbench-span-1"}
        assert sc.tags == {"perfbench-span-0"}
    assert sc.tags == set()
    assert [s.parent for s in tr.spans] == [None, 0]
    with pytest.raises(RuntimeError):
        a = tr.open("a")
        tr.open("b")
        tr.close(a)


def test_attach_tags_the_open_span():
    sc, tr = FakeSc(), T.Tracer()
    root = tr.open("run")
    tr.attach(sc)
    assert sc.tags == {"perfbench-span-0"}
    with tr.span("child"):
        assert sc.tags == {"perfbench-span-1"}
    tr.close(root)
    assert sc.tags == set()
