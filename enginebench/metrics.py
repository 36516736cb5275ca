"""End-to-end and per-layer metrics of one workload run.

End-to-end metrics come from the spans alone, so they cost nothing
beyond the run. Per-layer metrics join the spans with the Spark event
log of a traced run (:mod:`spans`). Every metric is reported on every
workload; a layer a workload never touches reads 0.
"""

from __future__ import annotations

import stats
import spans

END_TO_END = [
    ("setup_s", "s"),
    ("mix_s", "s"),
    ("query_p50_s", "s"),
    ("cpu_s", "s"),
]

MODULES = ("etl", "relational", "advanced", "funcs", "streaming_q",
           "udfs_q", "llm", "tpch")
SPARK_FIELDS = [
    ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
    ("deser_s", "s"), ("fetch_wait_s", "s"), ("scan_bytes", "bytes"),
    # the vectorized parquet reader reports few of the bytes it scans on
    # a local file system; the records it reads are counted in full
    ("scan_records", "count"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("peak_exec_mem_bytes", "bytes"), ("python_worker_s", "s"),
    ("python_worker_bytes", "bytes"),
]

PER_LAYER = [
    ("session.start_s", "s"),
    ("registry.load_s", "s"),
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("queries.build_in_jobs_s", "s"),
    ("queries.action_s", "s"),
    *[(f"queries.{m}.{f}", u) for m in MODULES for f, u in (
        ("wall_s", "s"), ("driver_only_s", "s"), ("jobs", "count"),
        ("task_cpu_s", "s"), ("python_worker_s", "s"))],
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.in_jobs_s", "s"),
    ("spark.driver_only_s", "s"),
    ("spark.driver_only_share", "ratio"),
    *[(f"spark.{f}", u) for f, u in SPARK_FIELDS],
    ("io.ingest_s", "s"),
    ("io.reload_s", "s"),
    ("io.rows_written", "count"),
    ("io.files_written", "count"),
    ("io.bytes_written_per_landed_byte", "ratio"),
    ("io.ingest_rows_per_s", "rows/s"),
    ("conform.rows_kept_ratio", "ratio"),
    ("catalog.layout_build_s", "s"),
    ("catalog.maintain_s", "s"),
    ("catalog.maintain_bytes_per_appended_byte", "ratio"),
    ("catalog.compactions", "count"),
    ("catalog.files_per_bucket", "ratio"),
    ("catalog.layout_bytes_per_source_byte", "ratio"),
    ("process.peak_rss_mb", "MB"),
    ("trace.glue_s", "s"),
    ("trace.overhead_s", "s"),
]

# spans that prepare inputs or answers; not part of set-up time
PREP_SPANS = ("gen", "check_types", "oracle")


def end_to_end(h, t_start: float) -> dict[str, float]:
    """``t_start``: epoch seconds at process start.

    ``mix_s`` is one pass at its typical speed: the sum over the pass's
    ops (a query key, or a month) of each op's median wall.
    ``query_p50_s`` is the median over keys of each key's median wall.
    ``cpu_s`` is the median CPU of a pass."""
    prep = sum(s.wall for s in h.tr.spans
               if s.name in PREP_SPANS and s.end <= h.t_first)
    ops: dict[str, list[float]] = {}
    queries: dict[str, list[float]] = {}
    for s in h.tr.spans:
        if s.op is None:
            continue
        if s.parent is None and s.name in spans.OP_SPANS:
            ops.setdefault(s.attrs.get("key", s.name), []).append(s.wall)
        if s.name == "query":
            queries.setdefault(s.attrs["key"], []).append(s.wall)
    return {
        "setup_s": h.t_first - t_start - prep,
        "mix_s": sum(stats.percentile(w, 50) for w in ops.values()),
        "query_p50_s": stats.percentile(
            [stats.percentile(w, 50) for w in queries.values()], 50),
        "cpu_s": stats.percentile(h.pass_cpu, 50),
    }


def per_layer(h, jobs: list[spans.Job], overhead_s: float
              ) -> dict[str, float]:
    sp = h.tr.spans
    direct = spans.attribute(sp, jobs)
    sub = spans.subtree_jobs(sp, direct)
    selfs = h.tr.self_times()

    def named(name, measured=True):
        return [i for i, s in enumerate(sp) if s.name == name
                and (s.op is not None) == measured]

    def wall(idx):
        return sum(sp[i].wall for i in idx)

    def in_jobs(idx):
        return sum(spans.in_jobs_s(sp[i], sub[i]) for i in idx)

    def jobs_of(idx):
        return [j for i in idx for j in sub[i]]

    def attr(idx, key):
        return sum(sp[i].attrs.get(key, 0) for i in idx)

    m: dict[str, float] = {}
    m["session.start_s"] = wall(named("session.start", False))
    m["registry.load_s"] = wall(named("registry.load", False))
    builds = named("queries.build")
    m["queries.build_s"] = sum(selfs[i] for i in builds)
    m["queries.build_jobs"] = len(jobs_of(builds))
    m["queries.build_in_jobs_s"] = in_jobs(builds)
    m["queries.action_s"] = wall(named("queries.action"))
    for mod in MODULES:
        qs = [i for i in named("query") if sp[i].attrs["module"] == mod]
        agg = spans.sum_metrics(jobs_of(qs))
        m[f"queries.{mod}.wall_s"] = wall(qs)
        m[f"queries.{mod}.driver_only_s"] = wall(qs) - in_jobs(qs)
        m[f"queries.{mod}.jobs"] = len(jobs_of(qs))
        m[f"queries.{mod}.task_cpu_s"] = agg["task_cpu_s"]
        m[f"queries.{mod}.python_worker_s"] = agg["python_worker_s"]
    ops = [i for i, s in enumerate(sp)
           if s.parent is None and s.name in spans.OP_SPANS and s.op]
    agg = spans.sum_metrics(jobs_of(ops))
    m["spark.jobs"] = len(jobs_of(ops))
    m["spark.tasks"] = agg["tasks"]
    m["spark.in_jobs_s"] = in_jobs(ops)
    m["spark.driver_only_s"] = wall(ops) - m["spark.in_jobs_s"]
    m["spark.driver_only_share"] = m["spark.driver_only_s"] / wall(ops)
    for f, _unit in SPARK_FIELDS:
        m[f"spark.{f}"] = agg[f]
    ingests = named("io.ingest")
    fresh = [i for i in ingests if not sp[i].attrs["reload"]]
    m["io.ingest_s"] = wall(fresh)
    m["io.reload_s"] = wall(ingests) - m["io.ingest_s"]
    m["io.rows_written"] = attr(ingests, "rows")
    m["io.files_written"] = attr(ingests, "files")
    m["io.bytes_written_per_landed_byte"] = _ratio(
        attr(ingests, "bytes"), attr(ingests, "landed_bytes"))
    m["io.ingest_rows_per_s"] = _ratio(attr(fresh, "rows_landed"),
                                       m["io.ingest_s"])
    m["conform.rows_kept_ratio"] = _ratio(attr(ingests, "rows"),
                                          attr(ingests, "rows_landed"))
    m["catalog.layout_build_s"] = wall(named("catalog.layout_build", False))
    maint = named("catalog.maintain")
    m["catalog.maintain_s"] = wall(maint)
    m["catalog.maintain_bytes_per_appended_byte"] = _ratio(
        attr(maint, "bytes"), attr(maint, "appended_bytes"))
    m["catalog.compactions"] = attr(maint, "compactions")
    m["catalog.files_per_bucket"] = h.extra.get("catalog.files_per_bucket",
                                                0.0)
    m["catalog.layout_bytes_per_source_byte"] = h.extra.get(
        "catalog.layout_bytes_per_source_byte", 0.0)
    m["process.peak_rss_mb"] = h.peak_rss_mb
    m["trace.glue_s"] = sum(selfs[i] for i in ops)
    m["trace.overhead_s"] = overhead_s
    return m


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0
