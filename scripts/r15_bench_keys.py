"""Fresh-JVM isolated bench of a SUBSET of query keys — the driver's
bench.py protocol (warm-up flagship, noop sink, REPS with clearCache
between, min) scoped to named keys, for A/B measurement of one change
without paying a full 147-key board per data point.

Usage:
    python scripts/r15_bench_keys.py d8_stateful d14_stream_layout_maintenance

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
SPARK_GRAFT_BENCH_REPS (default 2 — the driver's value).

Prints one JSON line: {"queries": {key: min_wall_s}, "reps": N,
"cpus": N, "per_rep": {key: [s, ...]}}. Run it as a FRESH process per
recording — the point is cold-JVM numbers matching the driver's
protocol, not warm-session sweeps (the r14 d8 lesson).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_data_engineering_project_spark import registry  # noqa: E402
from nyc_taxi_data_engineering_project_spark.session import get_session  # noqa: E402


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    keys = sys.argv[1:]
    assert keys, "pass at least one query key"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    registry.load_all()
    spark = get_session("r15_bench_keys")
    try:
        _materialize(
            registry.QUERIES["flagship_daily_region_revenue"](spark, sf_dir))
    except Exception as exc:
        print(f"# WARMUP ERROR: {exc}", file=sys.stderr)
    timings: dict[str, float] = {}
    per_rep: dict[str, list[float]] = {}
    for key in keys:
        fn = registry.QUERIES[key]
        walls: list[float] = []
        for _rep in range(reps):
            t0 = time.perf_counter()
            try:
                _materialize(fn(spark, sf_dir))
                walls.append(round(time.perf_counter() - t0, 3))
            except Exception as exc:
                print(f"# ERROR {key}: {exc}", file=sys.stderr)
                break
            spark.catalog.clearCache()
        per_rep[key] = walls
        timings[key] = min(walls) if walls else -1.0
    spark.stop()
    print(json.dumps({
        "queries": timings, "per_rep": per_rep, "reps": reps,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "sf_dir": sf_dir,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
