"""r10 ADVICE hardening: build-lock EPERM semantics, fresh-register
bucket-count honesty, failure-safe compaction swap, and the JVM-scoped
dot-kernel memo."""

from __future__ import annotations

import os
import shutil

import pytest

from conftest import SF_DIR
from nyc_taxi_data_engineering_project_spark import catalog
from nyc_taxi_data_engineering_project_spark.catalog import (
    _acquire_build_lock,
    _layout_conf_key,
    _read_manifest,
    build_workload_layout,
    compact_workload_layout,
    drop_workload_layout,
    table,
)


# --------------------------------------------------------- build lock
def test_lock_eperm_means_alive(tmp_path, monkeypatch):
    """PermissionError from os.kill(pid, 0) is EPERM — the pid EXISTS
    under another uid. The lock must be treated as HELD, not stolen."""
    path = str(tmp_path / "lay")
    os.makedirs(path)
    lock = os.path.join(path, "_graft_build.lock")
    with open(lock, "w") as f:
        f.write("12345\n")

    def _kill(pid, sig):
        raise PermissionError("Operation not permitted")

    monkeypatch.setattr(os, "kill", _kill)
    with pytest.raises(RuntimeError, match="pid 12345"):
        _acquire_build_lock(path)
    assert os.path.exists(lock)  # not stolen


def test_lock_esrch_still_steals_stale_lock(tmp_path, monkeypatch):
    path = str(tmp_path / "lay")
    os.makedirs(path)
    lock = os.path.join(path, "_graft_build.lock")
    with open(lock, "w") as f:
        f.write("12345\n")

    def _kill(pid, sig):
        raise ProcessLookupError

    monkeypatch.setattr(os, "kill", _kill)
    got = _acquire_build_lock(path)
    assert got == lock
    with open(lock) as f:
        assert int(f.read().strip()) == os.getpid()
    os.remove(lock)


# ----------------------------------- fresh-register explicit buckets
def test_fresh_register_rebuilds_on_explicit_bucket_mismatch(
        spark, tmp_path):
    """A fresh (fingerprint-identical) layout asked for at an
    explicitly DIFFERENT bucket count must rebuild at the requested
    count — not silently re-register the manifest's count (the drift
    path already treats the same mismatch as a rebuild trigger)."""
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    shutil.copy(f"{SF_DIR}/orders.parquet", f"{src_dir}/orders.parquet")
    shutil.copy(f"{SF_DIR}/lineitem.parquet",
                f"{src_dir}/lineitem.parquet")
    lay = str(tmp_path / "lay")
    try:
        built = build_workload_layout(spark, src_dir, lay, buckets=4)
        tbl = built["orders"]
        assert _read_manifest(lay, tbl)["buckets"] == 4

        # same source, explicit different count → rebuild, not reuse
        built2 = build_workload_layout(spark, src_dir, lay, buckets=8,
                                       tables=("orders", "lineitem"))
        tbl2 = built2["orders"]
        m = _read_manifest(lay, tbl2)
        assert m["buckets"] == 8, (
            "explicit buckets=8 was silently ignored on the fresh "
            f"path (manifest still says {m['buckets']})")
        conf_key = _layout_conf_key(src_dir, "orders")
        assert spark.conf.get(conf_key + ".buckets") == "8"
        # implicit (buckets=None) keeps re-registering without rebuild
        built3 = build_workload_layout(spark, src_dir, lay,
                                       tables=("orders", "lineitem"))
        assert _read_manifest(lay, built3["orders"])["buckets"] == 8
    finally:
        drop_workload_layout(spark, src_dir)


# ------------------------------------------------- compaction safety
def test_compact_rejects_unknown_table_name(spark, tmp_path):
    with pytest.raises(ValueError, match="not layout tables"):
        compact_workload_layout(spark, SF_DIR, str(tmp_path / "lay"),
                                tables=("nope",))


def test_compact_swap_failure_restores_original_tree(
        spark, tmp_path, monkeypatch):
    """A failure mid-swap (here: the manifest write) must leave the
    registered table pointing at the ORIGINAL directory with its
    manifest intact — never at a missing/manifest-less path."""
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    shutil.copy(f"{SF_DIR}/orders.parquet", f"{src_dir}/orders.parquet")
    shutil.copy(f"{SF_DIR}/lineitem.parquet",
                f"{src_dir}/lineitem.parquet")
    lay = str(tmp_path / "lay")
    try:
        built = build_workload_layout(spark, src_dir, lay, buckets=4,
                                      tables=("orders",))
        tbl = built["orders"]
        n = table(spark, src_dir, "orders").count()
        m_before = _read_manifest(lay, tbl)

        def _boom(layout_path, t, manifest):
            raise OSError("disk full")

        monkeypatch.setattr(catalog, "_write_manifest", _boom)
        with pytest.raises(OSError, match="disk full"):
            compact_workload_layout(spark, src_dir, lay,
                                    tables=("orders",))
        monkeypatch.undo()

        # original tree restored: table still serves, manifest intact
        spark.sql(f"REFRESH TABLE {tbl}")
        assert table(spark, src_dir, "orders").count() == n
        m_after = _read_manifest(lay, tbl)
        assert m_after is not None
        assert m_after["fingerprint"] == m_before["fingerprint"]
        assert m_after.get("compactions", 0) == \
            m_before.get("compactions", 0)
        # and a retry with the failure gone succeeds
        res = compact_workload_layout(spark, src_dir, lay,
                                      tables=("orders",))
        assert res["orders"][1] <= 4
        assert table(spark, src_dir, "orders").count() == n
    finally:
        drop_workload_layout(spark, src_dir)


# ------------------------------------------------- dot-kernel memo
def test_dot_kernel_memo_is_jvm_scoped(spark, monkeypatch):
    from nyc_taxi_data_engineering_project_spark.queries import llm

    c1 = llm._dot_unrolled("a_vec", "b_vec")
    c2 = llm._dot_unrolled("a_vec", "b_vec")
    assert c1 is c2  # memo hit within one session
    # a different JVM context (application id) must MISS the memo —
    # a cached Column wraps py4j refs into the JVM that built it
    monkeypatch.setattr(llm, "_jvm_token", lambda: "app-from-before-restart")
    c3 = llm._dot_unrolled("a_vec", "b_vec")
    assert c3 is not c1
