"""Benchmark harness — wall-clock per query key over the driver testdata.

Runs every registered query key (SURVEY.md §2 inventory) at
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "total_query_wall_clock", "value": N, "unit": "sec",
     "queries": {"<key>": sec, ...}, "sf": 0.1}

Timing methodology: each query's DataFrame is materialized with a
``count()``-free full-evaluation action (``write.format("noop")``) so the
measured cost is plan + shuffle + compute — not driver collection or disk.
A single warm-up pass of the flagship query absorbs JVM/codegen startup.
Each key is then measured REPS (2) times — cache cleared between
repetitions so every rep is cold — and the MINIMUM is reported: in a
single shared JVM, per-run noise (GC pauses, Janino compiles, Python
worker spawns) is strictly additive, so min-of-N estimates the true
steady-state cost (the standard JMH/hyperfine posture). Round-1 runs
measured single-shot and the same keys swung 4-10× between runs purely
by which of them absorbed the pauses.

Noise-immune per-key metrics (r12, verdict ask 2): wall clock on this
shared box has a documented ±40% ambient band, which made every
round-over-round delta an adjudication. Each key now ALSO records, via
the Spark event log (the same source scripts/shuffle_audit.py uses):

- ``task_cpu_s`` — summed executor task-thread CPU seconds. CPU time
  is what the plan actually burns; page-cache state, GC pauses on
  other threads, and co-tenant load move wall but barely move it. The
  r12+ regression read uses this as the PRIMARY per-key signal; wall
  stays the gate.
- ``shuffle_bytes`` — summed shuffle bytes written. A plan regression
  (new Exchange, lost broadcast) shows here exactly, with zero noise.

Jobs are attributed per key/rep through thread-local job groups PLUS —
r13, verdict ask 1 — a per-rep submission-time window: keys run
sequentially, so any job whose group is not a bench tag (streaming
microbatch jobs carry their query runId as the group, set by the
stream execution thread) is folded into the rep whose window contains
its JobStart time. Every D key now reads real task_cpu_s, closing the
r12 gap where d11 recorded 0.012 CPU s against 3.35 s wall.
Python-worker CPU (Pandas UDF keys) remains outside executor CPU time
by definition — so r14 (verdict ask 6) adds a FOURTH column,
``python_worker_s``: the per-task "time to run Python workers"
SQL-metric accumulable summed per key, closing the blind spot where
e1–e6/f12/f19/f20/f28/d13 read near-zero task-CPU against real work.
BENCH_DETAIL.json carries the full per-key quadruple under
``metrics``; ``queries`` stays wall-only for older readers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nyc_taxi_data_engineering_project_spark import registry  # noqa: E402
from nyc_taxi_data_engineering_project_spark.evlog import (  # noqa: E402
    group_task_metrics,
)
from nyc_taxi_data_engineering_project_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _materialize(df) -> None:
    # noop sink evaluates every row/column without driver collect or I/O
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    import shutil
    import tempfile

    registry.load_all()
    # event log feeds the per-key {task_cpu_s, shuffle_bytes} metrics;
    # uncompressed JSON at bench scale is ~1 MB/s of sequential write —
    # inside the ambient band, and the CPU numbers it buys are immune
    # to the band entirely
    evlog = tempfile.mkdtemp(prefix="bench_ev_")
    spark = get_session("bench", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{evlog}",
        "spark.eventLog.compress": "false",
    })

    # Opt-in A15 workload layout (catalog.build_workload_layout): with
    # SPARK_GRAFT_LAYOUT_DIR set, the full four-table layout (orderkey-
    # bucketed facts + doc_id-bucketed documents + LSH-partitioned
    # embeddings, r9) is built there once (timed separately below —
    # it's amortized capital, not per-query cost) and served
    # transparently to every layout-class key. Off by default so the
    # headline board stays comparable across rounds; run both ways to
    # price the layout at any SF.
    layout_dir = os.environ.get("SPARK_GRAFT_LAYOUT_DIR")
    layout_build_s = None
    if layout_dir:
        from nyc_taxi_data_engineering_project_spark.catalog import (
            LAYOUT_BUCKET_KEYS,
            build_workload_layout,
        )

        t0 = time.perf_counter()
        build_workload_layout(spark, SF_DIR, layout_dir,
                              tables=tuple(LAYOUT_BUCKET_KEYS))
        layout_build_s = round(time.perf_counter() - t0, 3)

    # warm-up: JVM, codegen, parquet footer caches — failure here must not
    # suppress the whole benchmark (each key also times its own first run)
    try:
        _materialize(
            registry.QUERIES["flagship_daily_region_revenue"](spark, SF_DIR)
        )
    except Exception as exc:
        print(f"# BENCH WARMUP ERROR: {exc}", file=sys.stderr)

    REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    timings: dict[str, float] = {}
    reps_run: dict[str, int] = {}
    windows: dict[str, tuple[float, float]] = {}
    for key in sorted(registry.QUERIES):
        fn = registry.QUERIES[key]
        best = -1.0
        reps_run[key] = 0
        for rep in range(REPS):
            # thread-local tag: every job this rep submits lands in one
            # event-log group so _group_metrics can attribute it;
            # the wall window catches jobs from OTHER threads too
            # (streaming microbatches tag themselves with their runId —
            # keys run sequentially, so window attribution is exact)
            spark.sparkContext.setJobGroup(f"{key}::rep{rep}", key)
            w0 = time.time() * 1000.0
            t0 = time.perf_counter()
            try:
                _materialize(fn(spark, SF_DIR))
                t = round(time.perf_counter() - t0, 3)
                best = t if best < 0 else min(best, t)
                reps_run[key] = rep + 1
            except Exception as exc:  # a failing key must not hide others
                print(f"# BENCH ERROR {key}: {exc}", file=sys.stderr)
                break
            finally:
                windows[f"{key}::rep{rep}"] = (w0, time.time() * 1000.0)
                spark.sparkContext.setJobGroup("bench-untagged", "")
            # clear between reps as well as keys: rep 2 must re-run the
            # whole plan cold, not read rep 1's pinned frames
            spark.catalog.clearCache()
        timings[key] = best

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf = _sf_of(SF_DIR)
    # r15 (verdict ask 5): board-level CPU totals on the one-line JSON
    # so the driver can separate the box's ±40% ambient wall band from
    # real plan regressions without trusting builder-side boards.
    # Additive fields only, present on both outputs only when the
    # event log parsed.
    cpu_totals: dict[str, float] = {}

    # flush + parse the event log into per-key noise-immune metrics:
    # min task-CPU across reps (min-of-N, same additive-noise argument
    # as wall) and that same rep's shuffle bytes (bytes are
    # plan-deterministic — reps agree to the byte unless AQE flips a
    # runtime decision, in which case min-CPU rep is the steady state)
    spark.stop()
    metrics: dict[str, dict[str, float]] = {}
    try:
        by_group = group_task_metrics(evlog, windows=windows)
        for key, n in reps_run.items():
            per_rep = [by_group[f"{key}::rep{r}"] for r in range(n)
                       if f"{key}::rep{r}" in by_group]
            if not per_rep:
                continue
            # pick by total compute signal (JVM CPU + Python worker
            # time, r14 ask 6) — for JVM keys python_worker_s is 0 and
            # this is the r13 min-CPU rule unchanged; for Python keys
            # the JVM residue alone would pick a rep at random
            pick = min(per_rep, key=lambda d: (d["task_cpu_s"]
                                               + d["python_worker_s"]))
            metrics[key] = {
                "wall_s": timings[key],
                "task_cpu_s": round(pick["task_cpu_s"], 3),
                "shuffle_bytes": int(pick["shuffle_bytes"]),
                "python_worker_s": round(pick["python_worker_s"], 3),
                # the Python DATA SOURCE scan (d13) publishes byte
                # counters but no timing accumulable — bytes are its
                # structural worker-activity evidence
                "python_worker_bytes": int(pick["python_worker_bytes"]),
            }
        cpu_totals = {
            "task_cpu_total": round(
                sum(m["task_cpu_s"] for m in metrics.values()), 3),
            "python_worker_total": round(
                sum(m["python_worker_s"] for m in metrics.values()), 3),
        }
    except Exception as exc:
        print(f"# BENCH METRICS PARSE ERROR: {exc}", file=sys.stderr)
    finally:
        shutil.rmtree(evlog, ignore_errors=True)

    # Full per-key detail → repo file (the driver's stdout tail capture is
    # ~2 KB; a 104-key JSON line is ~2.7 KB and gets decapitated, r01).
    detail = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        # r14 (§24e like-for-like protocol): best-of-N is part of a
        # recording's identity — the 2-rep window sits inside the
        # cold-codegen phase, so CPU compares are only valid between
        # same-reps boards; the artifact now says which it is
        "reps": REPS,
        # r12 (verdict ask 2): {wall_s, task_cpu_s, shuffle_bytes} per
        # key — task_cpu_s is the primary regression signal (immune to
        # the box's ±40% wall band), wall stays the gate
        "metrics": metrics,
        # r15 verdict ask 5: board totals of the noise-immune columns
        **cpu_totals,
    }
    if layout_build_s is not None:
        detail["layout_dir"] = layout_dir
        detail["layout_build_s"] = layout_build_s
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"# BENCH DETAIL WRITE ERROR: {exc}", file=sys.stderr)

    # Final stdout line (r11, verdict ask 6): the driver's stdout tail
    # capture decapitated a 142-key line two rounds running (73/142
    # parsed), so BENCH_DETAIL.json is the DECLARED per-key source of
    # truth and the stdout line stays compact — total + flagship + the
    # 12 slowest keys (~700 B, far inside any tail window). Printed
    # LAST so the tail always catches it whole.
    print(f"# full per-key board ({len(timings)} keys): {detail_path}",
          flush=True)
    slowest = sorted(timings, key=lambda k: -timings[k])[:12]
    out = {k: timings[k] for k in
           ["flagship_daily_region_revenue", *slowest] if k in timings}
    line = {"metric": "total_query_wall_clock", "value": total,
            "unit": "sec", "queries": out, "sf": sf,
            "n_queries": len(timings), "queries_shown": len(out),
            "reps": REPS, "detail": "BENCH_DETAIL.json"}
    # r15 verdict ask 5: wall sits in the box's ±40% ambient band;
    # these two totals are the noise-immune companions (task-thread
    # CPU + Python-worker time summed over all keys' min-CPU reps)
    line.update(cpu_totals)
    print(json.dumps(line, separators=(",", ":")))
    # session already stopped above (event-log flush)


if __name__ == "__main__":
    main()
