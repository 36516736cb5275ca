"""Event-log parsing, job attribution, self time and job-interval union
on a hand-made event log."""

import json

import pytest

import spans
from spans import Job, Span


def _job_start(job_id, t_ms, stages, group):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": t_ms, "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group}}


def _job_end(job_id, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id,
            "Completion Time": t_ms, "Job Result": {"Result": "JobSucceeded"}}


def _task_end(stage, run_ms, cpu_ns, gc_ms=0, deser_ms=0, fetch_ms=0,
              read=0, records=0, shuffle_w=0, spill=0, peak=0, py_ms=None,
              py_bytes=None):
    acc = []
    if py_ms is not None:
        acc.append({"ID": 1, "Name": "time to run Python workers",
                    "Update": str(py_ms), "Value": "0"})
    if py_bytes is not None:
        acc.append({"ID": 2, "Name": "data sent to Python workers",
                    "Update": py_bytes, "Value": 0})
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms, "Executor Deserialize Time": deser_ms,
                "Disk Bytes Spilled": spill, "Peak Execution Memory": peak,
                "Input Metrics": {"Bytes Read": read,
                                  "Records Read": records},
                "Shuffle Read Metrics": {"Fetch Wait Time": fetch_ms},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            }}


@pytest.fixture
def evlog(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        _job_start(0, 1_000_000, [0, 1], "op1"),
        _task_end(0, 400, 300_000_000, gc_ms=20, deser_ms=5, read=1000,
                  records=50, peak=64),
        _task_end(1, 600, 500_000_000, fetch_ms=7, shuffle_w=2048,
                  spill=10, peak=128),
        _job_end(0, 1_002_000),
        _job_start(1, 1_003_000, [2], "op2"),
        _task_end(2, 250, 100_000_000, py_ms=90, py_bytes=4096),
        _job_end(1, 1_003_500),
        # a task of a stage no job listed is ignored
        _task_end(9, 1, 1),
    ]
    d = tmp_path / "eventlog"
    d.mkdir()
    (d / "local-1").write_text("\n".join(json.dumps(e) for e in events))
    (d / ".local-1.crc").write_text("ignored")
    return str(d)


def test_read_event_log_intervals_and_task_metrics(evlog):
    jobs = spans.read_event_log(evlog)
    assert [(j.job_id, j.group, j.start, j.end) for j in jobs] == [
        (0, "op1", 1000.0, 1002.0), (1, "op2", 1003.0, 1003.5)]
    m0, m1 = jobs[0].metrics, jobs[1].metrics
    assert m0["tasks"] == 2
    assert m0["task_run_s"] == pytest.approx(1.0)
    assert m0["task_cpu_s"] == pytest.approx(0.8)
    assert m0["gc_s"] == pytest.approx(0.02)
    assert m0["deser_s"] == pytest.approx(0.005)
    assert m0["fetch_wait_s"] == pytest.approx(0.007)
    assert m0["scan_bytes"] == 1000
    assert m0["scan_records"] == 50
    assert m0["shuffle_write_bytes"] == 2048
    assert m0["spill_bytes"] == 10
    assert m0["peak_exec_mem_bytes"] == 128     # a peak, not a sum
    assert m0["python_worker_s"] == 0
    assert m1["python_worker_s"] == pytest.approx(0.09)
    assert m1["python_worker_bytes"] == 4096
    total = spans.sum_metrics(jobs)
    assert total["tasks"] == 3
    assert total["peak_exec_mem_bytes"] == 128


def test_union_of_job_intervals():
    assert spans.union_s([], 0, 10) == 0
    # overlapping, nested and disjoint intervals
    assert spans.union_s([(1, 3), (2, 5), (2.5, 4), (7, 8)], 0, 10) == 5
    # clipped to the window
    assert spans.union_s([(-5, 2), (9, 20)], 0, 10) == 3
    # an interval outside the window adds nothing
    assert spans.union_s([(11, 12)], 0, 10) == 0


def _tree():
    """op (0..10) -> build (1..3), action (3..9) -> inner (4..6)."""
    return [
        Span("query", 0.0, 10.0, None, "op1"),
        Span("queries.build", 1.0, 3.0, 0, "op1"),
        Span("queries.action", 3.0, 9.0, 0, "op1"),
        Span("inner", 4.0, 6.0, 2, "op1"),
        Span("warmup", 20.0, 30.0, None, None),
    ]


def test_self_times_account_for_wall():
    t = spans.Tracer()
    t.spans = _tree()
    selfs = t.self_times()
    assert selfs == [2.0, 2.0, 4.0, 2.0, 10.0]
    # the self times of an op's subtree add up to the op's wall
    assert sum(selfs[:4]) == t.spans[0].wall


def test_tracer_nests_and_inherits_op():
    t = spans.Tracer()
    with t.span("query", op="op7", key="k"):
        with t.span("queries.build"):
            pass
    with t.span("warmup"):
        pass
    outer, inner, warm = t.spans
    assert inner.parent == 0 and inner.op == "op7"
    assert warm.parent is None and warm.op is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert outer.attrs == {"key": "k"}


def test_attribute_innermost_then_job_group():
    sp = _tree()
    jobs = [
        Job(0, "op1", 1.5, 2.5),    # inside build
        Job(1, "op1", 4.5, 5.0),    # inside inner, under action
        Job(2, "op1", 9.5, 11.0),   # inside the op only
        Job(3, "op1", 12.0, 13.0),  # outside every span: by job group
        Job(4, None, 25.0, 26.0),   # warm-up
        Job(5, "opX", 40.0, 41.0),  # nowhere
    ]
    direct = spans.attribute(sp, jobs)
    ids = {i: [j.job_id for j in js] for i, js in direct.items()}
    assert ids == {1: [0], 3: [1], 0: [2, 3], 4: [4]}
    sub = spans.subtree_jobs(sp, direct)
    assert sorted(j.job_id for j in sub[0]) == [0, 1, 2, 3]
    assert [j.job_id for j in sub[2]] == [1]
    # time in jobs is clipped to the span: job 3 ran after the op ended
    assert spans.in_jobs_s(sp[0], sub[0]) == pytest.approx(1.0 + 0.5 + 0.5)
