"""r14 (verdict ask 2): the crash-window recovery helpers, pinned at
the unit level. The REAL kill -9 evidence lives in
scripts/crash_injection_probe.py (SIGKILL inside each window via
crashpoints.py, artifact crash_injection.json); these tests pin the
recovery semantics so a refactor can't silently change what a killed
swap leaves recoverable.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from nyc_taxi_data_engineering_project_spark.catalog import _layout_swap
from nyc_taxi_data_engineering_project_spark.crashpoints import crash_point


def _mk_tree(d, manifest=None):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "f0.parquet"), "w") as fh:
        fh.write("x")
    if manifest is not None:
        with open(os.path.join(d, "_graft_manifest.json"), "w") as fh:
            json.dump(manifest, fh)


class TestRecoverCompactSwap:
    def test_killed_between_renames_restores_parked_tree(self, tmp_path):
        lay = str(tmp_path)
        tbl = "spark_graft_layout_x_orders"
        # post-crash shape: live dir MISSING, old parked (manifest
        # inside), tmp may or may not linger
        _mk_tree(os.path.join(lay, tbl + "_compact_old"),
                 manifest={"fingerprint": "fp1", "buckets": 4})
        _mk_tree(os.path.join(lay, tbl + "_compact_tmp"))
        _layout_swap(lay, tbl).heal()
        assert os.path.isdir(os.path.join(lay, tbl))
        assert not os.path.isdir(os.path.join(lay, tbl + "_compact_old"))
        with open(os.path.join(lay, tbl, "_graft_manifest.json")) as fh:
            assert json.load(fh)["fingerprint"] == "fp1"

    def test_killed_after_second_rename_drops_superseded_old(
            self, tmp_path):
        lay = str(tmp_path)
        tbl = "t"
        # new tree live WITH manifest; parked old is superseded garbage
        _mk_tree(os.path.join(lay, tbl),
                 manifest={"fingerprint": "fp2", "buckets": 4})
        _mk_tree(os.path.join(lay, tbl + "_compact_old"),
                 manifest={"fingerprint": "fp1", "buckets": 4})
        _layout_swap(lay, tbl).heal()
        assert os.path.isdir(os.path.join(lay, tbl))
        assert not os.path.isdir(os.path.join(lay, tbl + "_compact_old"))

    def test_manifestless_live_tree_keeps_old_parked(self, tmp_path):
        """Crash between the second rename and the manifest write: the
        live tree is valid but manifest-less -> full-rebuild posture;
        the parked tree must NOT be deleted (it held the manifest) nor
        restored over the newer data."""
        lay = str(tmp_path)
        tbl = "t"
        _mk_tree(os.path.join(lay, tbl))  # no manifest
        _mk_tree(os.path.join(lay, tbl + "_compact_old"),
                 manifest={"fingerprint": "fp1"})
        _layout_swap(lay, tbl).heal()
        assert os.path.isdir(os.path.join(lay, tbl))
        assert os.path.isdir(os.path.join(lay, tbl + "_compact_old"))

    def test_healthy_state_is_untouched(self, tmp_path):
        lay = str(tmp_path)
        tbl = "t"
        _mk_tree(os.path.join(lay, tbl), manifest={"fingerprint": "fp"})
        _layout_swap(lay, tbl).heal()
        assert os.path.isdir(os.path.join(lay, tbl))


class TestCrashPointSeam:
    def test_noop_without_env(self, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_CRASH_POINT", raising=False)
        crash_point("sketch_swap_between_renames")  # must not die

    def test_noop_on_other_point(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_CRASH_POINT", "other_point")
        crash_point("sketch_swap_between_renames")

    def test_sigkill_on_named_point(self):
        code = (
            "import os\n"
            "os.environ['SPARK_GRAFT_CRASH_POINT'] = 'p1'\n"
            "from nyc_taxi_data_engineering_project_spark.crashpoints"
            " import crash_point\n"
            "crash_point('p1')\n"
            "print('SURVIVED')\n"
        )
        proc = subprocess.run([sys.executable, "-c", code],
                              capture_output=True, text=True,
                              cwd=os.path.dirname(os.path.dirname(
                                  os.path.abspath(__file__))))
        assert proc.returncode == -9
        assert "SURVIVED" not in proc.stdout

    def test_nth_hit_syntax(self):
        code = (
            "import os\n"
            "os.environ['SPARK_GRAFT_CRASH_POINT'] = 'p1:3'\n"
            "from nyc_taxi_data_engineering_project_spark.crashpoints"
            " import crash_point\n"
            "crash_point('p1'); print('hit1')\n"
            "crash_point('p1'); print('hit2')\n"
            "crash_point('p1'); print('hit3')\n"
        )
        proc = subprocess.run([sys.executable, "-c", code],
                              capture_output=True, text=True,
                              cwd=os.path.dirname(os.path.dirname(
                                  os.path.abspath(__file__))))
        assert proc.returncode == -9
        assert "hit2" in proc.stdout and "hit3" not in proc.stdout


def test_crash_point_malformed_nth_spec_is_named(monkeypatch):
    """r14 self-review: a malformed Nth-hit spec must fail as a named
    configuration error BEFORE the hit counter moves — not as a bare
    int() ValueError from inside the armed production seam."""
    import pytest

    from nyc_taxi_data_engineering_project_spark import crashpoints

    for bad in ("seam:", "seam:abc", "seam:1.5"):
        monkeypatch.setenv("SPARK_GRAFT_CRASH_POINT", bad)
        crashpoints._hits.clear()
        with pytest.raises(ValueError, match="SPARK_GRAFT_CRASH_POINT"):
            crashpoints.crash_point("seam")
        assert crashpoints._hits == {}, bad
    # a well-formed spec for a DIFFERENT seam stays a no-op
    monkeypatch.setenv("SPARK_GRAFT_CRASH_POINT", "other:2")
    crashpoints.crash_point("seam")
