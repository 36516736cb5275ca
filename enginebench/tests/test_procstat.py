"""``/proc`` CPU and peak-RSS readers, on a hand-made proc tree and on
this process."""

import subprocess
import sys
import time

import pytest

import procstat


def _stat(pid, ppid, comm, utime, stime, cutime, cstime):
    # pid (comm) state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime ...
    return (f"{pid} ({comm}) S {ppid} 1 1 0 -1 0 0 0 0 0 "
            f"{utime} {stime} {cutime} {cstime} 20 0 1 0 0 0 0\n")


@pytest.fixture
def fake_proc(tmp_path):
    # 10 -> 11 -> 13, 10 -> 12; 20 is unrelated
    procs = {
        10: (1, "python3", 100, 50, 7, 3, 1000),
        11: (10, "java) (weird", 400, 100, 0, 0, 3000),
        12: (10, "pyspark worker", 10, 10, 0, 0, 500),
        13: (11, "sh", 1, 1, 0, 0, 100),
        20: (1, "other", 999, 999, 0, 0, 9999),
    }
    for pid, (ppid, comm, u, s, cu, cs, hwm) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, ppid, comm, u, s, cu, cs))
        (d / "status").write_text(
            f"Name:\t{comm}\nVmPeak:\t 99999 kB\nVmHWM:\t {hwm} kB\n")
    (tmp_path / "self").mkdir()
    return str(tmp_path)


def test_tree_pids(fake_proc):
    assert sorted(procstat.tree_pids(10, fake_proc)) == [10, 11, 12, 13]
    assert procstat.tree_pids(12, fake_proc) == [12]


def test_cpu_counts_reaped_children(fake_proc):
    ticks = (100 + 50 + 7 + 3) + (400 + 100) + (10 + 10) + (1 + 1)
    assert procstat.tree_cpu_seconds(10, fake_proc) == pytest.approx(
        ticks / procstat.CLK_TCK)


def test_peak_rss_sums_members(fake_proc):
    assert procstat.tree_peak_rss_mb(10, fake_proc) == pytest.approx(
        (1000 + 3000 + 500 + 100) / 1024)


def test_vanished_process_reads_as_nothing(fake_proc):
    assert procstat.cpu_seconds([12345], fake_proc) == 0
    assert procstat.peak_rss_mb([12345], fake_proc) == 0


def test_live_tree_sees_child_cpu():
    before = procstat.tree_cpu_seconds()
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt=time.process_time()\n"
                              "while time.process_time()-t<0.3: pass\n"
                              "import sys; sys.stdin.read()"],
                             stdin=subprocess.PIPE)
    try:
        # the child burns CPU, then waits: read it while it is alive
        deadline = time.monotonic() + 20
        while (procstat.tree_cpu_seconds() - before < 0.25
               and time.monotonic() < deadline):
            time.sleep(0.05)
        assert child.pid in procstat.tree_pids()
        assert procstat.tree_cpu_seconds() - before >= 0.25
        assert procstat.tree_peak_rss_mb() > 0
    finally:
        child.communicate(b"", timeout=30)
    assert child.returncode == 0
