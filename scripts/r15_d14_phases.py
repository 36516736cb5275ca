"""Fresh-JVM phase profile of d14_stream_layout_maintenance (r15
verdict ask 3): time each phase of the key — feed write, the
3-micro-batch stream_append_layout, serve+aggregate, teardown — under
the driver's cold protocol, optionally twice (arg: N runs in ONE JVM,
default 2, mirroring REPS=2).

Usage: python scripts/r15_d14_phases.py [reps]
"""

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
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_project_spark import fx
    from nyc_taxi_data_engineering_project_spark.catalog import (
        drop_workload_layout,
        stream_append_layout,
        table,
    )
    from nyc_taxi_data_engineering_project_spark.streaming import (
        ephemeral_scratch_dir,
    )

    spark = get_session("r15_d14_phases")
    # same warm-up as bench.py
    registry.QUERIES["flagship_daily_region_revenue"](spark, sf_dir) \
        .write.format("noop").mode("overwrite").save()

    out = []
    for rep in range(reps):
        tmp = ephemeral_scratch_dir("d14prof_")
        feed = os.path.join(tmp, "feed")
        src2 = os.path.join(tmp, "src")
        lay = os.path.join(tmp, "layout")
        ckpt = os.path.join(tmp, "ckpt")
        phases: dict[str, float] = {}
        try:
            t0 = time.perf_counter()
            orders = table(spark, sf_dir, "orders")
            orders.repartition(3).write.parquet(feed)
            phases["feed_write"] = round(time.perf_counter() - t0, 3)

            t0 = time.perf_counter()
            stream = (spark.readStream.schema(orders.schema)
                      .option("maxFilesPerTrigger", 1).parquet(feed))
            os.makedirs(src2)
            stream_append_layout(stream, src2, lay, "orders", ckpt,
                                 buckets=4, publish="link")
            phases["stream_append"] = round(time.perf_counter() - t0, 3)

            t0 = time.perf_counter()
            served = table(spark, src2, "orders")
            agg = served.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n_orders"),
                fx.fround(F.sum(fx.dec("o_totalprice", scale=2))
                          .cast("double"), 2).alias("total_price"),
            )
            rows = agg.collect()
            phases["serve_agg"] = round(time.perf_counter() - t0, 3)
            phases["n_rows"] = len(rows)
        finally:
            t0 = time.perf_counter()
            drop_workload_layout(spark, src2, tables=("orders",))
            shutil.rmtree(tmp, ignore_errors=True)
            phases["teardown"] = round(time.perf_counter() - t0, 3)
        phases["total"] = round(sum(
            v for k, v in phases.items() if k not in ("n_rows", "total")), 3)
        out.append(phases)
        spark.catalog.clearCache()
    spark.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
