"""Unit contract for ``bench.tag_task_metrics``, the fold of
``enginebench/spans.read_event_log``'s jobs onto tags. bench.py's
metrics, shuffle_audit's byte ratios and the stress batteries' metric
columns all ride it, so the four columns bench.py reports are pinned
against a synthetic log."""

import json
import os

from bench import tag_task_metrics


def _columns(evlog_dir, windows):
    """The fold, projected to the four columns bench.py reports."""
    return {tag: {"task_cpu_s": m["task_cpu_s"],
                  "shuffle_bytes": m["shuffle_write_bytes"],
                  "python_worker_s": m["python_worker_s"],
                  "python_worker_bytes": m["python_worker_bytes"]}
            for tag, m in tag_task_metrics(evlog_dir, windows).items()}


def _tags(*tags):
    """Zero-width windows: jobs reach a tag only through their group."""
    return {t: (0, 0) for t in tags}


def _write_log(tmp_path, lines):
    d = tmp_path / "ev"
    os.makedirs(d)
    with open(d / "app-1", "w") as fh:
        for ln in lines:
            fh.write(json.dumps(ln) + "\n")
    return str(d)


def test_groups_sum_cpu_and_shuffle(tmp_path):
    log = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "k1::rep0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "k2::rep0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor CPU Time": 2_000_000_000,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor CPU Time": 500_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Metrics": {"Executor CPU Time": 1_000_000_000,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 7}}},
        # stage with no group: ignored, not crashed on
        {"Event": "SparkListenerTaskEnd", "Stage ID": 99,
         "Task Metrics": {"Executor CPU Time": 9_000_000_000}},
        # ungrouped job (no Properties): ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Stage IDs": [50]},
        # malformed line must be skipped, not fatal
    ]
    evdir = _write_log(tmp_path, log)
    with open(os.path.join(evdir, "app-1"), "a") as fh:
        fh.write("{not json\n")
    got = _columns(evdir, _tags("k1::rep0", "k2::rep0"))
    assert got == {
        "k1::rep0": {"task_cpu_s": 2.5, "shuffle_bytes": 100,
                     "python_worker_s": 0.0,
                     "python_worker_bytes": 0},
        "k2::rep0": {"task_cpu_s": 1.0, "shuffle_bytes": 7,
                     "python_worker_s": 0.0,
                     "python_worker_bytes": 0},
    }


def test_missing_metrics_blocks_are_zero(tmp_path):
    log = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": None},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1},
    ]
    got = _columns(_write_log(tmp_path, log), _tags("g"))
    assert got == {"g": {"task_cpu_s": 0.0, "shuffle_bytes": 0,
                   "python_worker_s": 0.0,
                     "python_worker_bytes": 0}}


def test_windows_fold_foreign_groups_by_submission_time(tmp_path):
    """Streaming microbatch jobs carry their query runId as the job
    group (set by the stream execution thread), which is not a bench
    tag — such jobs fold into the tag
    whose submission-time window contains them, so D keys read real
    task_cpu_s. Jobs outside every window (warm-up) are dropped; jobs
    already tagged with a window tag pass through untouched."""
    log = [
        # warm-up job: outside every window -> dropped
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [1],
         "Submission Time": 500,
         "Properties": {"spark.jobGroup.id":
                        "11111111-aaaa-bbbb-cccc-000000000000"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor CPU Time": 9_000_000_000}},
        # bench's own tagged job: group IS a window tag -> direct
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Submission Time": 1100,
         "Properties": {"spark.jobGroup.id": "d2::rep0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor CPU Time": 1_000_000_000}},
        # microbatch job: runId group, submitted inside d2::rep0's
        # window -> folded into d2::rep0
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Submission Time": 1500,
         "Properties": {"spark.jobGroup.id":
                        "22222222-aaaa-bbbb-cccc-000000000000"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Metrics": {"Executor CPU Time": 2_500_000_000,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 64}}},
        # UNGROUPED job inside rep1's window -> folded as well
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [4],
         "Submission Time": 2200},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task Metrics": {"Executor CPU Time": 750_000_000}},
        # job with no Submission Time and a foreign group -> dropped
        {"Event": "SparkListenerJobStart", "Job ID": 4, "Stage IDs": [5],
         "Properties": {"spark.jobGroup.id": "mystery"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 5,
         "Task Metrics": {"Executor CPU Time": 1_000_000_000}},
    ]
    evdir = _write_log(tmp_path, log)
    windows = {"d2::rep0": (1000, 2000), "d2::rep1": (2000, 3000)}
    got = _columns(evdir, windows)
    assert got == {
        "d2::rep0": {"task_cpu_s": 3.5, "shuffle_bytes": 64,
                     "python_worker_s": 0.0,
                     "python_worker_bytes": 0},
        "d2::rep1": {"task_cpu_s": 0.75, "shuffle_bytes": 0,
                     "python_worker_s": 0.0,
                     "python_worker_bytes": 0},
    }


def test_stage_map_scoped_per_application_file(tmp_path):
    """Stage IDs restart per application, so a directory
    holding two app logs must not bleed one file's stage->group map
    into the other — file 2's stage 1 belongs to ITS job, and a
    TaskEnd-before-JobStart walk order cannot misattribute."""
    import json as _json
    import os as _os

    d = tmp_path / "ev"
    _os.makedirs(d)
    app1 = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "a1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor CPU Time": 1_000_000_000}},
    ]
    app2 = [
        # same stage id, DIFFERENT app: TaskEnd arrives before any
        # JobStart in this file -> must be ignored, not billed to a1
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor CPU Time": 5_000_000_000}},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "a2"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor CPU Time": 2_000_000_000}},
    ]
    for name, lines in [("app-1", app1), ("app-2", app2)]:
        with open(d / name, "w") as fh:
            for ln in lines:
                fh.write(_json.dumps(ln) + "\n")
    got = _columns(str(d), _tags("a1", "a2"))
    assert got == {
        "a1": {"task_cpu_s": 1.0, "shuffle_bytes": 0,
               "python_worker_s": 0.0,
                     "python_worker_bytes": 0},
        "a2": {"task_cpu_s": 2.0, "shuffle_bytes": 0,
               "python_worker_s": 0.0,
                     "python_worker_bytes": 0},
    }


def test_python_worker_time_fourth_column(tmp_path):
    """Arrow/Pandas/row-Python keys burn their
    real work in Python workers, invisible to "Executor CPU Time" —
    the per-task "time to run Python workers" accumulable (ms, in the
    TaskEnd's Task Info) sums into python_worker_s per group.
    Start/initialize-worker accumulables are one-off pool warming and
    must NOT be counted; malformed Update values must not crash."""
    log = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "e2::rep0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Accumulables": [
             {"Name": "time to run Python workers", "Update": 1500},
             {"Name": "time to start Python workers", "Update": 900},
             {"Name": "time to initialize Python workers",
              "Update": 400},
             {"Name": "data sent to Python workers", "Update": 12345},
         ]},
         "Task Metrics": {"Executor CPU Time": 100_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Accumulables": [
             {"Name": "time to run Python workers", "Update": 500},
             # malformed Update: skipped, not fatal
             {"Name": "time to run Python workers", "Update": "zzz"},
         ]},
         "Task Metrics": {"Executor CPU Time": 100_000_000}},
        # a pure-JVM task in the same group adds nothing to the column
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor CPU Time": 200_000_000}},
    ]
    got = _columns(_write_log(tmp_path, log), _tags("e2::rep0"))
    assert got == {
        "e2::rep0": {"task_cpu_s": 0.4, "shuffle_bytes": 0,
                     "python_worker_s": 2.0,
                     # "data sent to Python workers" (12345) counts —
                     # the Python DATA SOURCE path (d13) publishes
                     # ONLY byte counters, so bytes are its worker
                     # evidence
                     "python_worker_bytes": 12345},
    }


def test_bench_outputs_omit_cpu_totals_when_the_log_does_not_parse(
        tmp_path, monkeypatch, capsys):
    """bench.py's board totals ride the event-log parse. When it fails,
    neither BENCH_DETAIL.json nor the stdout line may carry
    ``task_cpu_total`` / ``python_worker_total`` as null. bench.py
    writes the detail file beside itself, so a copy runs from
    ``tmp_path``."""
    import importlib.util
    import shutil
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # bench.py puts its own directory on sys.path; undo that afterwards
    monkeypatch.setattr(sys, "path", list(sys.path))
    shutil.copy(os.path.join(repo, "bench.py"), tmp_path / "bench.py")
    spec = importlib.util.spec_from_file_location(
        "bench_copy", tmp_path / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    class _Session:
        class sparkContext:  # noqa: N801 — stands in for the attribute
            @staticmethod
            def setJobGroup(*_a):
                pass

        def stop(self):
            pass

    def _unparsable(*_a, **_kw):
        raise ValueError("synthetic unparsable event log")

    monkeypatch.delenv("SPARK_GRAFT_LAYOUT_DIR", raising=False)
    monkeypatch.setattr(bench, "get_session", lambda *a, **kw: _Session())
    monkeypatch.setattr(bench.registry, "load_all", lambda: None)
    monkeypatch.setattr(bench.registry, "QUERIES", {})
    monkeypatch.setattr(bench, "tag_task_metrics", _unparsable)
    bench.main()

    with open(tmp_path / "BENCH_DETAIL.json") as fh:
        detail = json.load(fh)
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    for out in (detail, line):
        assert "task_cpu_total" not in out
        assert "python_worker_total" not in out
    assert detail["metrics"] == {} and line["n_queries"] == 0
