"""Fine-grained d14 probe: time each foreachBatch _ingest call and its
sub-steps (publish write, layout build/append) plus the streaming
machinery residue, fresh JVM. Monkeypatches timed wrappers around
catalog.layout_ingest_writer's collaborators — diagnostic only."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_data_engineering_project_spark import registry  # noqa: E402
from nyc_taxi_data_engineering_project_spark.session import get_session  # noqa: E402


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry.load_all()
    from nyc_taxi_data_engineering_project_spark import catalog, io as _io
    from nyc_taxi_data_engineering_project_spark.streaming import (
        ephemeral_scratch_dir,
    )
    from nyc_taxi_data_engineering_project_spark.catalog import (
        drop_workload_layout,
        stream_append_layout,
        table,
    )

    events: list[tuple[str, float]] = []

    real_write_bucketed = _io.write_bucketed
    real_build = catalog.build_workload_layout
    real_ingest_writer = catalog.layout_ingest_writer

    def timed_write_bucketed(*a, **kw):
        t0 = time.perf_counter()
        real_write_bucketed(*a, **kw)
        # the table name tells a full build from a staged append
        events.append((f"write_bucketed({a[1]})",
                       round(time.perf_counter() - t0, 3)))

    def timed_build(*a, **kw):
        t0 = time.perf_counter()
        out = real_build(*a, **kw)
        events.append(("build_workload_layout",
                       round(time.perf_counter() - t0, 3)))
        return out

    def timed_ingest_writer(*a, **kw):
        inner = real_ingest_writer(*a, **kw)

        def wrapped(batch_df, batch_id):
            t0 = time.perf_counter()
            inner(batch_df, batch_id)
            events.append((f"_ingest(batch={batch_id})",
                           round(time.perf_counter() - t0, 3)))

        return wrapped

    _io.write_bucketed = timed_write_bucketed
    catalog.build_workload_layout = timed_build
    catalog.layout_ingest_writer = timed_ingest_writer
    # catalog module references io via late import inside functions; the
    # build path calls _io.write_bucketed through `from . import io as
    # _io` at call time, so the module attribute patch above covers it.

    spark = get_session("r15_d14_inner")
    registry.QUERIES["flagship_daily_region_revenue"](spark, sf_dir) \
        .write.format("noop").mode("overwrite").save()

    out = []
    for _rep in range(reps):
        events.clear()
        tmp = ephemeral_scratch_dir("d14probe_")
        feed = os.path.join(tmp, "feed")
        src2 = os.path.join(tmp, "src")
        lay = os.path.join(tmp, "layout")
        ckpt = os.path.join(tmp, "ckpt")
        try:
            orders = table(spark, sf_dir, "orders")
            t0 = time.perf_counter()
            orders.repartition(3).write.parquet(feed)
            t_feed = round(time.perf_counter() - t0, 3)
            stream = (spark.readStream.schema(orders.schema)
                      .option("maxFilesPerTrigger", 1).parquet(feed))
            os.makedirs(src2)
            t0 = time.perf_counter()
            stream_append_layout(stream, src2, lay, "orders", ckpt,
                                 buckets=4)
            t_stream = round(time.perf_counter() - t0, 3)
        finally:
            drop_workload_layout(spark, src2, tables=("orders",))
            shutil.rmtree(tmp, ignore_errors=True)
        out.append({"feed": t_feed, "stream_append_total": t_stream,
                    "events": list(events)})
        spark.catalog.clearCache()
    spark.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
