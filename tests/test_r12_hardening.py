"""r11 ADVICE fixes, pinned (r12).

Low-severity findings from the round-11 advisor, each with the
failure it names reproduced here so the fix can't regress:

2. session's undersized-heap warning assumed '8g' when
   spark.driver.memory was unset — suppressing the warning exactly for
   unmanaged JVMs whose real default heap is 1 g.
3. test_workload_layout's append-pins-width equality silently depended
   on the corpus containing no null embeddings (fixed in place there;
   symmetry asserted here on the helper level).
4. catalog re-registered a conf-only pre-manifest WIDE embeddings
   layout at the 4-plane default, so a stored wide bucket would be
   trusted as 4-plane. The manifest is now the one record of a built
   table: one without it is rebuilt, and the registered width is the
   width the rebuild stored.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from nyc_taxi_data_engineering_project_spark.session import (
    _running_heap_gb,
)


# ---------------------------------------------------------------- 2 —
class _FakeConf:
    def __init__(self, val):
        self._val = val

    def get(self, key, default=None):
        return self._val if self._val is not None else default


class _FakeJvmChain:
    """Stands in for sc._jvm.java.lang.Runtime.getRuntime().maxMemory()."""

    def __init__(self, max_bytes):
        self._max = max_bytes

    def __getattr__(self, _name):
        return self

    def getRuntime(self):
        return self

    def maxMemory(self):
        return self._max


class _FakeSpark:
    def __init__(self, conf_val, max_bytes=None):
        self.conf = _FakeConf(conf_val)
        if max_bytes is None:
            class _Boom:
                def __getattr__(self, _n):
                    raise RuntimeError("jvm gone")
            self.sparkContext = _Boom()
        else:
            class _SC:
                pass
            self.sparkContext = _SC()
            self.sparkContext._jvm = _FakeJvmChain(max_bytes)


class TestHeapWarningFallback:
    def test_conf_present_wins(self):
        gb, label = _running_heap_gb(_FakeSpark("20g"))
        assert gb == 20.0 and label == "20g"

    def test_conf_absent_reads_real_jvm_heap(self):
        gb, label = _running_heap_gb(
            _FakeSpark(None, max_bytes=4 * (1 << 30)))
        assert gb == pytest.approx(4.0)
        assert "maxMemory" in label

    def test_conf_absent_jvm_unreachable_assumes_spark_default_1g(self):
        # NOT the engine's 8g floor — that suppressed the warning in
        # exactly the unmanaged-session case (r11 ADVICE)
        gb, label = _running_heap_gb(_FakeSpark(None))
        assert gb == 1.0 and "1g" in label

    def test_live_session_reports_conf(self, spark):
        gb, _ = _running_heap_gb(spark)
        assert gb >= 1.0


# ---------------------------------------------------------------- 4 —
def test_conf_only_premanifest_register_keeps_wide_width(
        spark, tmp_path):
    """A wide (6-plane) layout whose manifest is LOST must never be
    registered at a width it does not store: the manifest is the one
    record of a built table, so the next build rebuilds it, and the
    registered width (``layout_lsh_planes``) is the width the rebuild
    actually stored in ``graft_lsh_bucket``."""
    import shutil

    from nyc_taxi_data_engineering_project_spark.catalog import (
        _embeddings_lsh_bucket_at,
        _manifest_path,
        _read_manifest,
        build_workload_layout,
        drop_workload_layout,
        layout_lsh_planes,
    )

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    plain = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plain.coalesce(1).write.parquet(f"{src_dir}/embeddings.parquet")
    lay = str(tmp_path / "lay")
    built = build_workload_layout(spark, src_dir, lay,
                                  tables=("embeddings",), lsh_planes=6)
    tbl = built["embeddings"]
    try:
        os.remove(_manifest_path(lay, tbl))  # the record is lost
        # maintenance call, width unstated: rebuilt at the default
        built2 = build_workload_layout(spark, src_dir, lay,
                                       tables=("embeddings",))
        assert built2 == built
        width = layout_lsh_planes(spark, src_dir)
        assert width == _read_manifest(lay, tbl)["lsh_planes"] == 4
        stored = spark.table(tbl).select("vec_id", "graft_lsh_bucket")
        want = plain.select(
            "vec_id",
            _embeddings_lsh_bucket_at(width)(plain).alias(
                "graft_lsh_bucket"))
        assert stored.exceptAll(want).count() == 0
        assert want.exceptAll(stored).count() == 0
    finally:
        drop_workload_layout(spark, src_dir)
        shutil.rmtree(lay, ignore_errors=True)
