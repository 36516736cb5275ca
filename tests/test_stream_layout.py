"""Streaming maintenance of the workload layout (r13 — lifecycle
symmetry: catalog.stream_append_layout / layout_ingest_writer).

The reference's monthly ingest-then-index cadence
(``python/ingest_data.py:160-166`` + ``sql/init.sql:44-47``) as a
continuous stream: each micro-batch publishes deterministically named
part files into the layout's SOURCE directory, and the standard
manifest-diff maintenance appends only that delta into the bucketed
layout. These tests pin the exactly-once contract the same way the
sketch writers' tests do (test_llm_ops.py): streamed == batch-built,
replay no-op, both crash windows heal, and a foreign checkpoint
presenting non-monotonic batch ids refuses loudly.
"""

from __future__ import annotations

import errno
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from nyc_taxi_data_engineering_project_spark.catalog import (
    _read_manifest,
    _stream_marker_path,
    drop_workload_layout,
    layout_ingest_writer,
    stream_append_layout,
    table,
)


def _orders_batches(spark, n=3):
    """The sf orders table split into n deterministic slices."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    return orders, [
        orders.filter(F.pmod(F.col("o_orderkey"), F.lit(n)) == i)
        for i in range(n)
    ]


def _served_rows(spark, src):
    return table(spark, src, "orders")


def _published(src):
    return sorted(glob.glob(
        os.path.join(src, "orders.parquet", "part-graft-*.parquet")))


def test_streamed_layout_equals_batch_and_appends_only_delta(
        spark, tmp_path):
    """Three manual batches through the production writer: the served
    layout equals the full source, each batch's maintenance is
    incremental (files from earlier batches byte-untouched), and the
    marker tracks the last batch."""
    src = str(tmp_path / "src")
    lay = str(tmp_path / "lay")
    os.makedirs(src)
    orders, batches = _orders_batches(spark)
    writer = layout_ingest_writer(src, lay, "orders",
                                  stream_id="ckpt-a", buckets=4)
    try:
        writer(batches[0], 0)
        served0 = _served_rows(spark, src)
        n0 = served0.count()
        assert n0 == batches[0].count()
        # record the layout files after batch 0
        manifest = _read_manifest(lay, _layout_tbl(spark, src))
        assert manifest is not None
        files0 = _layout_files(lay, _layout_tbl(spark, src))

        writer(batches[1], 1)
        writer(batches[2], 2)
        served = _served_rows(spark, src)
        assert served.count() == orders.count()
        src_rows = spark.read.parquet(f"{src}/orders.parquet")
        assert served.exceptAll(src_rows).count() == 0
        assert src_rows.exceptAll(served).count() == 0
        # incremental: batch-0 layout files byte-untouched
        files2 = _layout_files(lay, _layout_tbl(spark, src))
        for f, mt in files0.items():
            assert files2[f] == mt, f"maintenance rewrote {f}"
        with open(_stream_marker_path(f"{src}/orders.parquet")) as fh:
            marker = json.load(fh)
        assert marker == {"stream_id": "ckpt-a", "last_batch_id": 2}
    finally:
        drop_workload_layout(spark, src)


def _layout_tbl(spark, src):
    from nyc_taxi_data_engineering_project_spark.catalog import (
        _layout_conf_key,
    )

    return spark.conf.get(_layout_conf_key(src, "orders"))


def _layout_files(lay, tbl):
    d = os.path.join(lay, tbl)
    return {
        os.path.join(root, f): os.stat(os.path.join(root, f)).st_mtime_ns
        for root, _dirs, files in os.walk(d)
        for f in files if f.endswith(".parquet")
    }


def test_replayed_batch_is_a_no_op(spark, tmp_path):
    """A batch_id <= last from the SAME stream touches neither the
    published source files nor the layout (foreachBatch's replay
    contract: crash between sink write and checkpoint commit)."""
    src = str(tmp_path / "src")
    lay = str(tmp_path / "lay")
    os.makedirs(src)
    orders, batches = _orders_batches(spark, n=2)
    writer = layout_ingest_writer(src, lay, "orders",
                                  stream_id="ckpt-a", buckets=4)
    try:
        writer(batches[0], 0)
        writer(batches[1], 1)
        pub = {p: os.stat(p).st_mtime_ns for p in _published(src)}
        n = _served_rows(spark, src).count()
        # replay both epochs — rows WOULD double if the guard failed
        writer(batches[0], 0)
        writer(batches[1], 1)
        assert {p: os.stat(p).st_mtime_ns
                for p in _published(src)} == pub
        assert _served_rows(spark, src).count() == n == orders.count()
    finally:
        drop_workload_layout(spark, src)


def test_crash_before_marker_republishes_without_duplicates(
        spark, tmp_path, monkeypatch):
    """Crash window 1: files published, marker NOT committed. The
    replay must delete the partial publication and republish — the
    marker ordering proves the layout never consumed those files."""
    import nyc_taxi_data_engineering_project_spark.catalog as cat

    src = str(tmp_path / "src")
    lay = str(tmp_path / "lay")
    os.makedirs(src)
    orders, batches = _orders_batches(spark, n=2)
    writer = layout_ingest_writer(src, lay, "orders",
                                  stream_id="ckpt-a", buckets=4)
    try:
        writer(batches[0], 0)

        # batch 1 crashes after the renames, before the marker commit:
        # simulate by failing os.replace for the marker only
        real_replace = os.replace

        def _boom(a, b):
            if b.endswith("_graft_stream.json"):
                raise OSError("synthetic crash before marker commit")
            return real_replace(a, b)

        monkeypatch.setattr(cat.os, "replace", _boom)
        with pytest.raises(OSError, match="synthetic crash"):
            writer(batches[1], 1)
        monkeypatch.setattr(cat.os, "replace", real_replace)

        # partial publication exists; marker still at batch 0
        assert len(_published(src)) > 0
        with open(_stream_marker_path(f"{src}/orders.parquet")) as fh:
            assert json.load(fh)["last_batch_id"] == 0

        # the replay republishes batch 1 exactly once
        writer(batches[1], 1)
        served = _served_rows(spark, src)
        assert served.count() == orders.count()
        src_rows = spark.read.parquet(f"{src}/orders.parquet")
        assert served.exceptAll(src_rows).count() == 0
    finally:
        drop_workload_layout(spark, src)


def test_crash_after_marker_heals_on_replay(spark, tmp_path,
                                            monkeypatch):
    """Crash window 2: files + marker committed, layout append never
    ran. The replayed epoch is a data no-op but its maintenance call
    folds the pending source parts in."""
    import nyc_taxi_data_engineering_project_spark.catalog as cat

    src = str(tmp_path / "src")
    lay = str(tmp_path / "lay")
    os.makedirs(src)
    orders, batches = _orders_batches(spark, n=2)
    writer = layout_ingest_writer(src, lay, "orders",
                                  stream_id="ckpt-a", buckets=4)
    try:
        writer(batches[0], 0)

        real_build = cat.build_workload_layout
        calls = {"n": 0}

        def _boom(*a, **kw):
            calls["n"] += 1
            raise RuntimeError("synthetic crash before layout append")

        monkeypatch.setattr(cat, "build_workload_layout", _boom)
        with pytest.raises(RuntimeError, match="synthetic crash"):
            writer(batches[1], 1)
        monkeypatch.setattr(cat, "build_workload_layout", real_build)
        assert calls["n"] == 1
        # marker committed, layout stale (missing batch 1)
        with open(_stream_marker_path(f"{src}/orders.parquet")) as fh:
            assert json.load(fh)["last_batch_id"] == 1
        # STALE gate protects readers until maintenance runs
        with pytest.raises(ValueError, match="STALE"):
            _served_rows(spark, src).count()

        pub = {p: os.stat(p).st_mtime_ns for p in _published(src)}
        writer(batches[1], 1)  # replay: no republication, append heals
        assert {p: os.stat(p).st_mtime_ns
                for p in _published(src)} == pub
        assert _served_rows(spark, src).count() == orders.count()
    finally:
        drop_workload_layout(spark, src)


def test_foreign_checkpoint_with_nonmonotonic_batch_refuses(
        spark, tmp_path):
    """The sketch writers' identity posture (r12 ADVICE): a fresh or
    relocated checkpoint restarts batch ids at 0 — treating those as
    replays would silently skip new data, so a different stream_id
    presenting batch_id <= last refuses loudly. A monotonically HIGHER
    batch id from a new stream may adopt the source."""
    src = str(tmp_path / "src")
    lay = str(tmp_path / "lay")
    os.makedirs(src)
    orders, batches = _orders_batches(spark, n=3)
    a = layout_ingest_writer(src, lay, "orders",
                             stream_id="ckpt-a", buckets=4)
    b = layout_ingest_writer(src, lay, "orders",
                             stream_id="ckpt-b", buckets=4)
    try:
        a(batches[0], 0)
        a(batches[1], 1)
        with pytest.raises(ValueError, match="fresh/relocated"):
            b(batches[2], 0)
        # adoption at a higher batch id is allowed; sid-scoped names
        # make collisions impossible
        b(batches[2], 2)
        assert _served_rows(spark, src).count() == orders.count()
        with open(_stream_marker_path(f"{src}/orders.parquet")) as fh:
            marker = json.load(fh)
        assert marker == {"stream_id": "ckpt-b", "last_batch_id": 2}
    finally:
        drop_workload_layout(spark, src)


def test_real_stream_end_to_end_and_restart(spark, tmp_path):
    """The production entry point: a real file-source stream drained
    by stream_append_layout, then RE-RUN against the same checkpoint —
    the second drain sees no new offsets and the layout is unchanged
    (exactly-once across restarts, the d14 registry key's contract)."""
    feed = str(tmp_path / "feed")
    src = str(tmp_path / "src")
    lay = str(tmp_path / "lay")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    orders.repartition(3).write.parquet(feed)

    def _drain():
        stream = (spark.readStream.schema(orders.schema)
                  .option("maxFilesPerTrigger", 1).parquet(feed))
        stream_append_layout(stream, src, lay, "orders", ckpt,
                             buckets=4)

    try:
        _drain()
        served = _served_rows(spark, src)
        assert served.count() == orders.count()
        # >= 2 batches really ran (deterministic sid-named files)
        batch_ids = {os.path.basename(p).split("-")[3]
                     for p in _published(src)}
        assert len(batch_ids) >= 2
        pub = {p: os.stat(p).st_mtime_ns for p in _published(src)}
        files = _layout_files(lay, _layout_tbl(spark, src))

        _drain()  # restart on the same checkpoint: nothing new
        assert {p: os.stat(p).st_mtime_ns
                for p in _published(src)} == pub
        assert _layout_files(lay, _layout_tbl(spark, src)) == files
        assert _served_rows(spark, src).count() == orders.count()
    finally:
        drop_workload_layout(spark, src)


def test_streamed_embeddings_layout_value_partitioned_width_pinned(
        spark, tmp_path):
    """The streaming path must hold for the PARTITIONED layout mode
    too (the persisted ANN index): streamed vectors land in the same
    value partitions the batch build assigns, the stored LSH width is
    PINNED across streamed appends (an explicit lsh_planes rides every
    maintenance call), and the stored buckets equal the on-the-fly
    rule over the full streamed corpus."""
    src = str(tmp_path / "src")
    lay = str(tmp_path / "lay")
    os.makedirs(src)
    plain = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    batches = [plain.filter(F.col("vec_id") % 2 == i) for i in range(2)]
    writer = layout_ingest_writer(src, lay, "embeddings",
                                  stream_id="ckpt-e", lsh_planes=6)
    try:
        writer(batches[0], 0)
        from nyc_taxi_data_engineering_project_spark.catalog import (
            _layout_conf_key,
        )

        tbl = spark.conf.get(_layout_conf_key(src, "embeddings"))
        m0 = _read_manifest(lay, tbl)
        assert m0["mode"] == "partitioned" and m0["lsh_planes"] == 6

        writer(batches[1], 1)
        m1 = _read_manifest(lay, tbl)
        assert m1["lsh_planes"] == 6  # width pinned across the stream
        served = table(spark, src, "embeddings", with_derived=True) \
            .select("vec_id", "graft_lsh_bucket")
        assert served.count() == plain.count()
        # stored buckets == the 6-plane rule applied on the fly (the
        # serve-off derived column would use the DEFAULT width, so
        # compare against the exact factory the build pinned)
        from nyc_taxi_data_engineering_project_spark.catalog import (
            _derived_factories,
        )

        fac = _derived_factories("embeddings", 6)["graft_lsh_bucket"]
        computed = plain.withColumn("graft_lsh_bucket", fac(plain)) \
            .select("vec_id", "graft_lsh_bucket")
        assert sorted(map(tuple, served.collect())) == \
            sorted(map(tuple, computed.collect()))
    finally:
        drop_workload_layout(spark, src)


def test_link_publish_equals_write_and_is_exactly_once(spark, tmp_path):
    """r15 optimization: ``publish="link"`` (hardlink the batch's own
    feed files into the source, mapping read from the checkpoint's
    file-source metadata log) must produce the SAME served layout as
    the default Spark-write publication, keep the exactly-once restart
    contract, and really be a metadata move (hardlinks of the feed
    files, not rewrites)."""
    feed = str(tmp_path / "feed")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    orders.repartition(3).write.parquet(feed)

    def _drain(src, lay, ckpt, publish):
        stream = (spark.readStream.schema(orders.schema)
                  .option("maxFilesPerTrigger", 1).parquet(feed))
        stream_append_layout(stream, src, lay, "orders", ckpt,
                             buckets=4, publish=publish)

    trees = {}
    for publish in ("write", "link"):
        src = str(tmp_path / f"src_{publish}")
        lay = str(tmp_path / f"lay_{publish}")
        ckpt = str(tmp_path / f"ckpt_{publish}")
        os.makedirs(src)
        _drain(src, lay, ckpt, publish)
        trees[publish] = (src, lay, ckpt)
    try:
        got_w = _served_rows(spark, trees["write"][0])
        got_l = _served_rows(spark, trees["link"][0])
        assert got_l.count() == got_w.count() == orders.count()
        assert got_l.exceptAll(got_w).count() == 0
        assert got_w.exceptAll(got_l).count() == 0
        # link publication is a metadata move: every published part is
        # a hardlink (st_nlink >= 2 — the feed file is the other name)
        pubs = _published(trees["link"][0])
        assert pubs and all(os.stat(p).st_nlink >= 2 for p in pubs)
        # restart on the same checkpoint: nothing new (exactly-once)
        src, lay, ckpt = trees["link"]
        pub = {p: os.stat(p).st_mtime_ns for p in _published(src)}
        files = _layout_files(lay, _layout_tbl(spark, src))
        _drain(src, lay, ckpt, "link")
        assert {p: os.stat(p).st_mtime_ns
                for p in _published(src)} == pub
        assert _layout_files(lay, _layout_tbl(spark, src)) == files
        assert _served_rows(spark, src).count() == orders.count()
    finally:
        for src, _lay, _ckpt in trees.values():
            drop_workload_layout(spark, src)


def test_link_publish_requires_source_log():
    """The link contract is explicit: without the file-source metadata
    log dir there is no batch→files mapping — refuse at construction,
    not mid-stream."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="source_log"):
        layout_ingest_writer("s", "l", "orders", stream_id="x",
                             publish="link")
    with _pytest.raises(ValueError, match="publish"):
        layout_ingest_writer("s", "l", "orders", stream_id="x",
                             publish="rename")


@pytest.mark.parametrize("transform", ["filter", "select"])
def test_link_publish_refuses_a_transformed_stream(spark, tmp_path,
                                                   transform):
    """Link publication hardlinks each batch's input files, so on a
    filtered or projected stream it would publish rows the stream
    dropped. The call refuses before the stream starts: nothing is
    published and no stream marker is written."""
    feed = str(tmp_path / "feed")
    src = str(tmp_path / "src")
    os.makedirs(src)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    orders.repartition(2).write.parquet(feed)
    stream = (spark.readStream.schema(orders.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    stream = (stream.filter(F.col("o_orderkey") % 2 == 0)
              if transform == "filter"
              else stream.select("o_orderkey", "o_custkey"))
    try:
        with pytest.raises(ValueError, match="publish='write'"):
            stream_append_layout(stream, src, str(tmp_path / "lay"),
                                 "orders", str(tmp_path / "ckpt"),
                                 buckets=4, publish="link")
        assert not _published(src)
        assert not os.path.exists(
            _stream_marker_path(f"{src}/orders.parquet"))
    finally:
        drop_workload_layout(spark, src)


def test_link_publish_across_metadata_log_compaction(spark, tmp_path):
    """Spark compacts the file-source metadata log every
    compactInterval (default 10) batches: that batch's log entry is
    named ``<id>.compact`` and is CUMULATIVE. The link publisher must
    dispatch on the compact name and filter to the batch's own
    entries — a 12-file feed crosses the boundary at batch 9 (the bug
    this pins: open(<ckpt>/sources/0/9) raised, wedging the stream;
    and a naive read of the cumulative file would re-publish batches
    0-8's files under batch 9's names)."""
    feed = str(tmp_path / "feed")
    src = str(tmp_path / "src")
    lay = str(tmp_path / "lay")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    orders.repartition(12).write.parquet(feed)
    stream = (spark.readStream.schema(orders.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    stream_append_layout(stream, src, lay, "orders", ckpt,
                         buckets=4, publish="link")
    try:
        # the compact boundary really was crossed
        assert os.path.exists(
            os.path.join(ckpt, "sources", "0", "9.compact"))
        # 12 batches -> 12 published files, one per feed file, and the
        # served layout holds each source row exactly once
        assert len(_published(src)) == 12
        served = _served_rows(spark, src)
        assert served.count() == orders.count()
        src_rows = spark.read.parquet(f"{src}/orders.parquet")
        assert served.exceptAll(src_rows).count() == 0
        assert src_rows.exceptAll(served).count() == 0
    finally:
        drop_workload_layout(spark, src)


def test_link_publish_reads_a_cleaned_up_entry_from_a_later_compact(
        spark, tmp_path):
    """Spark's file-source log cleanup deletes plain entries a later
    ``.compact`` file covers. A replayed non-boundary batch whose plain
    entry is gone must be read from the newest compact file at or past
    it, not refused as "not a file source"; with no covering compact
    file the refusal names log cleanup as a possible cause."""
    feed = str(tmp_path / "feed")
    src = str(tmp_path / "src")
    lay = str(tmp_path / "lay")
    log_dir = str(tmp_path / "ckpt" / "sources" / "0")
    os.makedirs(src)
    os.makedirs(log_dir)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    orders.repartition(3).write.parquet(feed)
    parts = sorted(glob.glob(os.path.join(feed, "*.parquet")))
    assert len(parts) == 3

    def _entry(i):
        return json.dumps({"path": f"file://{parts[i]}", "timestamp": 0,
                           "batchId": i}) + "\n"

    # batch 2 is a compact boundary holding batches 0-2; cleanup
    # deleted the plain entries of batches 0 and 1
    with open(os.path.join(log_dir, "2.compact"), "w") as fh:
        fh.write("v1\n" + "".join(_entry(i) for i in range(3)))
    writer = layout_ingest_writer(src, lay, "orders", stream_id="ckpt-c",
                                  buckets=4, publish="link",
                                  source_log=log_dir)
    dummy = orders.limit(0)
    try:
        for b in range(3):
            writer(dummy, b)
        assert len(_published(src)) == 3
        served = _served_rows(spark, src)
        assert served.count() == orders.count()
        with pytest.raises(ValueError, match="log cleanup"):
            writer(dummy, 3)
    finally:
        drop_workload_layout(spark, src)


def test_link_publish_crash_mid_link_republishes_cleanly(
        spark, tmp_path, monkeypatch):
    """Crash window 1 for the LINK publisher: some links landed, the
    marker did not commit. The replay must sweep the dot-prefixed
    temps, delete the partial stem publication, re-link, and leave no
    stray visible to any reader glob."""
    import glob as _g

    import nyc_taxi_data_engineering_project_spark.catalog as cat

    feed = str(tmp_path / "feed")
    src = str(tmp_path / "src")
    lay = str(tmp_path / "lay")
    log_dir = str(tmp_path / "ckpt" / "sources" / "0")
    os.makedirs(src)
    os.makedirs(log_dir)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    orders.repartition(2).write.parquet(feed)
    parts = sorted(glob.glob(os.path.join(feed, "*.parquet")))
    assert len(parts) == 2
    # craft the file-source metadata log: one file per batch
    for i, p in enumerate(parts):
        with open(os.path.join(log_dir, str(i)), "w") as fh:
            fh.write("v1\n")
            fh.write(json.dumps(
                {"path": f"file://{p}", "timestamp": 0, "batchId": i},
            ) + "\n")
    writer = layout_ingest_writer(src, lay, "orders", stream_id="ckpt-l",
                                  buckets=4, publish="link",
                                  source_log=log_dir)
    # batch_df rows are unused by the link path; only the session is
    dummy = orders.limit(0)
    marker = _stream_marker_path(f"{src}/orders.parquet")
    real_link = os.link

    def _link_fails(err):
        def _link(a, b):
            raise OSError(err, os.strerror(err))
        return _link

    try:
        # a real link failure propagates and publishes nothing
        monkeypatch.setattr(cat.os, "link", _link_fails(errno.ENOSPC))
        with pytest.raises(OSError) as exc_info:
            writer(dummy, 0)
        assert exc_info.value.errno == errno.ENOSPC
        assert not _published(src) and not os.path.exists(marker)
        # a filesystem that cannot link falls back to a copy
        monkeypatch.setattr(cat.os, "link", _link_fails(errno.EXDEV))
        writer(dummy, 0)
        monkeypatch.setattr(cat.os, "link", real_link)
        assert [os.stat(p).st_nlink for p in _published(src)] == [1]
        with open(marker) as fh:
            assert json.load(fh)["last_batch_id"] == 0

        real_replace = os.replace

        def _boom(a, b):
            if ".inprogress" in a:
                raise OSError("synthetic crash mid-link")
            return real_replace(a, b)

        monkeypatch.setattr(cat.os, "replace", _boom)
        with pytest.raises(OSError, match="synthetic crash"):
            writer(dummy, 1)
        monkeypatch.setattr(cat.os, "replace", real_replace)
        # leftover temp is hidden from every reader-facing glob
        strays = _g.glob(os.path.join(src, "orders.parquet",
                                      ".*inprogress"))
        assert strays, "the synthetic crash should leave a temp"
        assert not [p for p in _published(src)
                    if "-000000001-" in os.path.basename(p)]

        writer(dummy, 1)  # replay: sweep temps, re-link, commit
        assert not _g.glob(os.path.join(src, "orders.parquet",
                                        ".*inprogress"))
        served = _served_rows(spark, src)
        assert served.count() == orders.count()
        with open(_stream_marker_path(f"{src}/orders.parquet")) as fh:
            assert json.load(fh)["last_batch_id"] == 1
    finally:
        drop_workload_layout(spark, src)
