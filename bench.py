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
steady-state cost (the standard JMH/hyperfine posture); single-shot
timings swing several-fold by which key absorbs the pauses.

Noise-immune per-key metrics: wall clock on a shared box moves with
ambient load, so each key ALSO records, from the Spark event log read
by ``enginebench/spans.read_event_log``:

- ``task_cpu_s`` — summed executor task-thread CPU seconds. CPU time
  is what the plan actually burns; page-cache state, GC pauses on
  other threads, and co-tenant load move wall but barely move it. It
  is the primary per-key regression signal; wall stays the gate.
- ``shuffle_bytes`` — summed shuffle bytes written. A plan regression
  (new Exchange, lost broadcast) shows here exactly, with zero noise.
- ``python_worker_s`` — the per-task "time to run Python workers"
  SQL-metric accumulable: Pandas/Arrow/row-Python UDF work runs
  outside executor CPU time by definition.
- ``python_worker_bytes`` — bytes sent to and returned from Python
  workers: the Python data-source scan publishes no timing accumulable.

Jobs are attributed per key/rep through thread-local job groups PLUS a
per-rep submission-time window (:func:`tag_task_metrics`): keys run
sequentially, so any job whose group is not a bench tag (streaming
microbatch jobs carry their query runId as the group, set by the
stream execution thread) is folded into the rep whose window contains
its submission time, and streaming keys read their real task CPU.
BENCH_DETAIL.json carries the full per-key record under ``metrics``;
``queries`` stays wall-only.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nyc_taxi_data_engineering_project_spark import registry  # noqa: E402
from nyc_taxi_data_engineering_project_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def tag_task_metrics(evlog_dir: str, windows: dict[str, tuple[float, float]]
                     ) -> dict[str, dict[str, float]]:
    """tag -> ``spans.sum_metrics`` of its jobs, for each tag whose jobs
    ran a task. A job goes to its group when the group is a tag of
    ``windows`` ({tag: (start_ms, end_ms)}, epoch millis), else to the
    tag whose [start, end) window holds its submission time, else
    nowhere (warm-up, housekeeping)."""
    from enginebench import spans

    by_tag: dict[str, list] = {}
    for job in spans.read_event_log(evlog_dir):
        tag = job.group if job.group in windows else next(
            (t for t, (lo, hi) in windows.items()
             if lo / 1e3 <= job.start < hi / 1e3), None)
        if tag is not None:
            by_tag.setdefault(tag, []).append(job)
    return {tag: m for tag, jobs in by_tag.items()
            if (m := spans.sum_metrics(jobs))["tasks"]}


def _materialize(df) -> None:
    # noop sink evaluates every row/column without driver collect or I/O
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    import shutil
    import tempfile

    registry.load_all()
    # the event log feeds the per-key noise-immune metrics;
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
    # embeddings) is built there once (timed separately below —
    # it's amortized capital, not per-query cost) and served
    # transparently to every layout-class key. Off by default so the
    # headline board stays comparable between boards; run both ways to
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
            # event-log group so tag_task_metrics can attribute it;
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
    # board-level CPU totals on the one-line JSON separate ambient
    # wall noise from real plan regressions. Present on both outputs
    # only when the event log parsed.
    cpu_totals: dict[str, float] = {}

    # flush + parse the event log into per-key noise-immune metrics:
    # min task-CPU across reps (min-of-N, same additive-noise argument
    # as wall) and that same rep's shuffle bytes (bytes are
    # plan-deterministic — reps agree to the byte unless AQE flips a
    # runtime decision, in which case min-CPU rep is the steady state)
    spark.stop()
    metrics: dict[str, dict[str, float]] = {}
    try:
        by_group = tag_task_metrics(evlog, windows)
        for key, n in reps_run.items():
            per_rep = [by_group[f"{key}::rep{r}"] for r in range(n)
                       if f"{key}::rep{r}" in by_group]
            if not per_rep:
                continue
            # pick by total compute signal (JVM CPU + Python worker
            # time) — for JVM keys python_worker_s is 0 and this is
            # the min-CPU rule; for Python keys the JVM residue alone
            # would pick a rep at random
            pick = min(per_rep, key=lambda d: (d["task_cpu_s"]
                                               + d["python_worker_s"]))
            metrics[key] = {
                "wall_s": timings[key],
                "task_cpu_s": round(pick["task_cpu_s"], 3),
                "shuffle_bytes": int(pick["shuffle_write_bytes"]),
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

    # Full per-key detail → repo file: a per-key JSON line for every key
    # is longer than a ~2 KB stdout tail capture.
    detail = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        # best-of-N is part of a recording's identity — the 2-rep
        # window sits inside the cold-codegen phase, so CPU compares
        # are only valid between same-reps boards
        "reps": REPS,
        # per key: wall_s plus the event-log columns; task_cpu_s is the
        # primary regression signal, wall stays the gate
        "metrics": metrics,
        # board totals of the noise-immune columns
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

    # Final stdout line: BENCH_DETAIL.json is the per-key source of
    # truth and the stdout line stays compact — total + flagship + the
    # 12 slowest keys (~700 B, inside any stdout tail capture). Printed
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
    # the noise-immune companions of the wall total: task-thread CPU
    # and Python-worker time summed over all keys' min-CPU reps
    line.update(cpu_totals)
    print(json.dumps(line, separators=(",", ":")))
    # session already stopped above (event-log flush)


if __name__ == "__main__":
    main()
