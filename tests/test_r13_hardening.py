"""r13 ADVICE fixes, pinned (r14).

Five low-severity findings from the round-13 advisor, each with the
failure it names reproduced (or the documented posture asserted) so
the fix can't regress:

1. llm._read_sketch_parquet retried only the exists() probe, not the
   read itself — a writer swapping between the probe and
   spark.read.parquet surfaced a raw missing-path error instead of a
   retry (the exact window the helper was added to absorb).
2. its fixed 3x0.1 s budget could misdiagnose a live writer on a slow
   filesystem as stranded; now ~1 s backoff + a final target re-check
   after composing the stranded error.
3. catalog.stream_append_layout's docstring overclaimed that manual
   builds between batches are always append-only — a manual build
   landing inside the crash-before-marker window degrades to a full
   rebuild on replay (correct outcome, O(corpus) cost); documented.
4. d14 left its mkdtemp feed/source/layout/checkpoint trees and the
   registered spark_graft_layout_* table behind on every run; it now
   materializes the (priority-cardinality) aggregate and cleans up.
5. cpu_soak emitted "ratio" heterogeneously typed (float | "inf" |
   null); now float|null with an explicit "infinite" boolean flag.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import threading
import time

import pytest

from conftest import SF_DIR
from nyc_taxi_data_engineering_project_spark.queries.llm import (
    _sketch_swap,
    _write_cells,
)

from cpu_soak import spread_entry


# ------------------------------------------------------------ 1, 2 —
class TestReadSketchRetriesTheReadItself:
    def test_writer_completing_mid_retry_is_absorbed(self, spark, tmp_path):
        """Stranded-looking swap that a 'live writer' completes 0.25 s
        in: the old code (exists-probe-only retry, then raise) never
        re-reached the read; the fixed reader returns the frame."""
        target = str(tmp_path / "sketch")
        _write_cells(
            spark.range(5).toDF("v"), target, inner_manifest={"k": 1})
        # tear the swap open: target -> .tmp (manifest inside), as if
        # a writer crashed (or is paused) between its two renames
        os.rename(target, target + ".tmp")

        def _finish_swap():
            time.sleep(0.25)
            os.rename(target + ".tmp", target)

        t = threading.Thread(target=_finish_swap)
        t.start()
        try:
            df = _sketch_swap(target).read(spark)
            assert df.count() == 5
        finally:
            t.join()

    def test_genuinely_stranded_swap_still_raises(self, spark, tmp_path):
        target = str(tmp_path / "sketch")
        _write_cells(
            spark.range(3).toDF("v"), target, inner_manifest={"k": 1})
        os.rename(target, target + ".tmp")
        with pytest.raises(ValueError, match="stranded swap"):
            _sketch_swap(target).read(spark)

    def test_plain_missing_path_raises_normally(self, spark, tmp_path):
        with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
            _sketch_swap(str(tmp_path / "never_written")).read(spark)


# --------------------------------------------------------------- 3 —
class TestStreamAppendDocstringNamesTheRebuildWindow:
    def test_docstring_names_full_rebuild_degradation(self):
        from nyc_taxi_data_engineering_project_spark.catalog import (
            layout_ingest_writer,
        )
        doc = layout_ingest_writer.__doc__
        assert "full rebuild" in doc.lower() or "FULL rebuild" in doc
        assert "crash-before-marker" in doc


# --------------------------------------------------------------- 4 —
class TestD14CleansUpAfterItself:
    def test_no_leftover_tempdirs_or_layout_tables(self, spark):
        from nyc_taxi_data_engineering_project_spark.queries.streaming_q import (
            d14_stream_layout_maintenance,
        )

        tmp_root = tempfile.gettempdir()
        before_dirs = set(glob.glob(os.path.join(tmp_root, "d14_*")))
        before_tables = {
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("spark_graft_layout_")
        }
        out = d14_stream_layout_maintenance(spark, SF_DIR)
        # the key still serves the layout aggregate (5 priorities)
        assert out.count() == 5
        after_dirs = set(glob.glob(os.path.join(tmp_root, "d14_*")))
        after_tables = {
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("spark_graft_layout_")
        }
        assert after_dirs == before_dirs, (
            f"d14 leaked tempdirs: {after_dirs - before_dirs}")
        assert after_tables == before_tables, (
            f"d14 leaked layout tables: {after_tables - before_tables}")


# --------------------------------------------------------------- 5 —
class TestSoakRatioHomogeneousTyping:
    def test_normal_spread_is_float(self):
        e = spread_entry([1.0, 2.0, 1.5], python_worker=False)
        assert isinstance(e["ratio"], float) and e["ratio"] == 2.0
        assert e["infinite"] is False

    def test_attribution_gap_is_null_plus_flag_not_str(self):
        e = spread_entry([0.0, 3.0], python_worker=False)
        assert e["ratio"] is None
        assert e["infinite"] is True

    def test_all_zero_key_is_null_not_infinite(self):
        e = spread_entry([0.0, 0.0, 0.0], python_worker=True)
        assert e["ratio"] is None
        assert e["infinite"] is False
        assert e["python_worker"] is True
