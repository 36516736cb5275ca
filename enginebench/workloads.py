"""The three workloads, each run in a fresh process.

``board_sf01``
    A cross-section of the registry — every query module, with
    Python-worker, streaming-replay and eager-pin keys — on a seeded
    sf0.1-shaped corpus, in seeded order, without a layout. At this size
    plan building, py4j round trips, eager pins and stream start-up are a
    large share of each query: the driver-bound traffic of the board. The
    inputs never change, so caches keyed on file fingerprints stay warm.
``tpch_scale``
    The three heaviest TPC-H keys (a wide aggregate, a three-way join, a
    join under a grouped subquery) on a four-fold key-shifted replica of
    the corpus's TPC-H tables, without a layout or Python workers: most
    of the wall is inside Spark jobs, so scan, shuffle and codegen work
    shows and driver-side work hardly does. A contrast for traced runs,
    left out of ``BENCHMARK.json`` to keep its full run set short.
``monthly_pipeline``
    The reference's own pipeline. Set-up splits the fact tables of the
    corpus's TPC-H tables into monthly part files, builds their workload
    layout from scratch and ingests the month delivered before the run.
    Each month then lands a trip file plus that month's orders and line
    items, ingests the trips, re-delivers an earlier month, maintains the
    layout incrementally and answers a fixed set of layout-served keys on
    the grown source. Its inputs change every month, so caches keyed on
    file fingerprints miss.

Set-up ends with untimed passes over the workload's keys, which pay
JVM, codegen and Python-worker start-up. The measured phase then repeats
passes — one round of the query mix, or one month — until ``seconds``
have passed and at least ``min_passes`` passes are done, so that every
key of a query mix has a median over several runs.

Every query execution is checked against the DuckDB oracle on the same
files, every ingest against the rows the generator kept. Checking is
left out of the measured wall and CPU.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import random
import shutil
import sys
import time
from contextlib import contextmanager

import gen
import oracle
import procstat
import spans

BOARD_KEYS = [
    "a9_notnull_filter", "flagship_daily_region_revenue", "c4_anti_join",
    "c24_array_funcs", "d1_stream_source", "e5_udtf", "e6_map_in_pandas",
    "f7_lang_id", "f29_unigram_logprob", "tpch_q6",
]
TPCH_KEYS = ["tpch_q1", "tpch_q3", "tpch_q18"]
TPCH_REPLICAS = 4
PIPELINE_KEYS = ["flagship_daily_region_revenue", "tpch_q3", "tpch_q18",
                 "b1_date_range"]
MIN_PASSES = 4             # passes of a query mix
WARM_PASSES = 2            # untimed passes of a query mix before them
MONTHS_MAX = 4             # months generated; a run stops when they run out
MONTH_ORDERS = 1_875       # one month of orders at sf0.1
MONTH_TRIPS = 20_000
FACTS = ("orders", "lineitem")   # the tables that grow, and their layout


class Harness:
    """One workload run: inputs, session, measured ops, checks, spans."""

    def __init__(self, work: str, seed: int, seconds: float,
                 traced: bool) -> None:
        self.work, self.seed = work, seed
        self.seconds, self.traced = seconds, traced
        self.tr = spans.Tracer()
        self.spark = None
        self.evlog = os.path.join(work, "tmp", "eventlog")
        self.attempted = 0
        self.failures: list[str] = []
        self.rows_seen: dict[str, int] = {}
        self.verified: dict[tuple, set] = {}
        self.extra: dict[str, float] = {}
        self.pass_cpu: list[float] = []
        self.check_cpu = 0.0
        self._n_ops = 0

    # -- inputs and answers -----------------------------------------------

    def inputs(self, name: str, build) -> str:
        """Generated inputs under ``work/inputs/<name>-<seed>-v<N>``,
        reused while the seed and generator version match."""
        out = os.path.join(self.work, "inputs",
                           f"{name}-{self.seed}-v{gen.GEN_VERSION}")
        if not os.path.exists(os.path.join(out, "_done")):
            shutil.rmtree(out, ignore_errors=True)
            with self.tr.span("gen"):
                build(out)
            open(os.path.join(out, "_done"), "w").close()
        return out

    def answers(self, keys, inputs: str, bind, tag: str = ""
                ) -> dict[str, object]:
        """Oracle answers for ``keys``; rows-only keys have none. They are
        kept in the ``inputs`` dir they are computed from, under ``tag``
        and a digest of the oracle SQL. On a miss, ``bind()`` gives a
        DuckDB connection bound to the inputs."""
        from nyc_taxi_data_engineering_project_spark import registry

        sqls = {k: registry.ORACLES[k] for k in keys if k in registry.ORACLES}
        digest = hashlib.sha1(json.dumps(sqls, sort_keys=True).encode())
        cache = os.path.join(inputs, f"answers{tag}-{digest.hexdigest()[:12]}"
                                     f".pkl")
        with self.tr.span("oracle"), self.bench_work():
            if os.path.exists(cache):
                with open(cache, "rb") as fh:
                    return pickle.load(fh)
            con = bind()
            try:
                out = {k: oracle.expected(con, sql)
                       for k, sql in sqls.items()}
            finally:
                con.close()
            with open(cache + ".tmp", "wb") as fh:
                pickle.dump(out, fh)
            os.replace(cache + ".tmp", cache)
            return out

    @contextmanager
    def bench_work(self):
        """The benchmark's own work (checks, oracle answers) inside the
        measured phase: its CPU is taken off the measured CPU."""
        c0 = time.process_time()
        try:
            yield
        finally:
            self.check_cpu += time.process_time() - c0

    # -- engine calls -------------------------------------------------------

    def start(self) -> None:
        from nyc_taxi_data_engineering_project_spark import registry
        from nyc_taxi_data_engineering_project_spark.session import (
            get_session,
        )

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.local.dir": os.path.join(tmp, "spark"),
            "spark.spark_graft.pin_dir": os.path.join(tmp, "pins"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            shutil.rmtree(self.evlog, ignore_errors=True)
            os.makedirs(self.evlog)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": f"file://{self.evlog}",
                         "spark.eventLog.compress": "false"})
        with self.tr.span("session.start"):
            self.spark = get_session("enginebench", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        with self.tr.span("registry.load"):
            registry.load_all()

    def warm_up(self, sf_dir: str, keys: list[str]) -> None:
        """One run of each of ``keys``, the same calls a measured query
        makes: pays JVM, codegen and Python-worker start-up before the
        measured phase."""
        from nyc_taxi_data_engineering_project_spark import registry

        with self.tr.span("warmup"):
            for key in keys:
                registry.QUERIES[key](self.spark, sf_dir).toPandas()
                self.spark.catalog.clearCache()

    def new_op(self, label: str) -> str:
        """A fresh op id, set as the job group of everything it submits."""
        self._n_ops += 1
        op = f"op{self._n_ops}"
        self.spark.sparkContext.setJobGroup(op, label)
        return op

    def query(self, key: str, sf_dir: str, op: str | None = None):
        """One query: the key function, then a collecting action. Returns
        ``(key, result or None, error or None)`` for :meth:`check`."""
        from nyc_taxi_data_engineering_project_spark import registry

        fn = registry.QUERIES[key]
        got, err = None, None
        with self.tr.span("query", op=op, key=key,
                          module=fn.__module__.rsplit(".", 1)[-1]):
            try:
                with self.tr.span("queries.build"):
                    df = fn(self.spark, sf_dir)
                with self.tr.span("queries.action"):
                    got = df.toPandas()
            except Exception as exc:  # a failing key is counted, not fatal
                err = f"{type(exc).__name__}: {str(exc)[:200]}"
        self.spark.catalog.clearCache()
        return key, got, err

    def check(self, key: str, got, err: str | None, expect) -> None:
        self.attempted += 1
        with self.tr.span("check"), self.bench_work():
            if err is None:
                err = self._verify(key, got, expect.get(key))
        if err is not None:
            self.fail(f"{key}: {err}")

    def _verify(self, key: str, got, want) -> str | None:
        """Why ``got`` is wrong, or None. ``want`` is the oracle's answer;
        without one (a rows-only key) the answer must be non-empty and
        keep the size of the key's first answer. A result whose rows equal
        those of one already verified against the same ``want`` passes
        without comparing again."""
        from nyc_taxi_data_engineering_project_spark import registry

        # the entry holds ``want``, so its id is not reused while cached
        _, seen = self.verified.setdefault((key, id(want)), (want, set()))
        digest = oracle.row_digest(got)
        if digest is not None and digest in seen:
            return None
        if want is not None:
            ok, note = oracle.matches(got, want, registry.ORACLES[key])
            if not ok:
                return f"mismatch: {note}"
        else:
            n = self.rows_seen.setdefault(key, len(got))
            if n == 0 or len(got) != n:
                return f"rows {len(got)} (first run {n})"
        seen.add(digest)
        return None

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"# FAIL {what}", file=sys.stderr, flush=True)

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait until no
        process this one started is left."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        with self.tr.span("session.stop"):
            self.spark.stop()
            self.spark = None
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()   # the JVM exits at its EOF
                gateway.proc.wait(timeout=60)
                SparkContext._gateway = SparkContext._jvm = None
            deadline = time.time() + 30
            while procstat.tree_pids()[1:] and time.time() < deadline:
                time.sleep(0.1)

    # -- measured phase -------------------------------------------------------

    def measure(self, one_pass, min_passes: int) -> None:
        """Repeat ``one_pass`` until ``seconds`` have passed and at least
        ``min_passes`` passes are done; ``one_pass`` returns False when it
        has no more work. Each pass's CPU is the process tree's, less the
        benchmark's own checking."""
        self.t_first = self.tr.now()
        while True:
            cpu0, self.check_cpu = procstat.tree_cpu_seconds(), 0.0
            more = one_pass()
            self.pass_cpu.append(
                procstat.tree_cpu_seconds() - cpu0 - self.check_cpu)
            if more is False or (len(self.pass_cpu) >= min_passes and
                                 self.tr.now() - self.t_first
                                 >= self.seconds):
                break
        self.peak_rss_mb = procstat.tree_peak_rss_mb()


def _query_mix(h: Harness, d: str, keys: list[str]) -> None:
    """``keys`` on the corpus ``d`` in seeded order, after
    ``WARM_PASSES`` untimed passes."""
    h.start()
    expect = h.answers(keys, d, lambda: oracle.connect(d, _cpus()))
    h.warm_up(d, keys * WARM_PASSES)
    order = list(keys)
    random.Random(h.seed).shuffle(order)

    def one_pass():
        for key in order:
            result = h.query(key, d, op=h.new_op(key))
            h.check(*result, expect)

    h.measure(one_pass, MIN_PASSES)


def run_board(h: Harness) -> None:
    from check_testdata_types import check as check_types

    d = h.inputs("board", lambda out: gen.write_corpus(
        gen.corpus(h.seed), out))
    with h.tr.span("check_types"):
        drift = check_types((d,))
    if drift:
        raise RuntimeError(f"generated corpus drifts from "
                           f"TESTDATA_TYPES.json: {drift[:3]}")
    _query_mix(h, d, BOARD_KEYS)


def run_tpch(h: Harness) -> None:
    d = h.inputs(f"tpch{TPCH_REPLICAS}", lambda out: gen.write_corpus(
        gen.corpus(h.seed, TPCH_REPLICAS, gen.TPCH_TABLES), out))
    _query_mix(h, d, TPCH_KEYS)


def _pipeline_inputs(seed: int, out: str) -> None:
    """The base corpus, and per month a trip file plus, from month 1 on,
    the month's orders and line items. Month 0 is the delivery made
    before the run: its trips only."""
    gen.write_corpus(gen.corpus(seed, tables=gen.TPCH_TABLES),
                     os.path.join(out, "base"), month_split=FACTS)
    for i in range(MONTHS_MAX + 1):
        mdir = os.path.join(out, "landing", f"m{i:02d}")
        for name, t in (gen.month_slice(seed, i, MONTH_ORDERS).items()
                        if i else ()):
            gen.write_table(t, os.path.join(
                mdir, name, f"part-{gen.month_start(i):%Y-%m}.parquet"))
        trips, kept = gen.trip_file(seed, i, MONTH_TRIPS)
        gen.write_table(trips, os.path.join(mdir, "trips.parquet"))
        with open(os.path.join(mdir, "kept"), "w") as fh:
            fh.write(str(kept))


def _files(path: str) -> dict[int, int]:
    """inode -> size of every parquet file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                out[st.st_ino] = st.st_size
    return out


def _written(before: dict[int, int], path: str) -> tuple[int, int]:
    """(files, bytes) under ``path`` that were not there ``before``;
    hard links of old files do not count."""
    new = [s for ino, s in _files(path).items() if ino not in before]
    return len(new), sum(new)


def _manifest(table_dir: str) -> dict:
    # the layout's manifest travels inside each table's directory
    with open(os.path.join(table_dir, "_graft_manifest.json")) as fh:
        return json.load(fh)


def run_pipeline(h: Harness) -> None:
    import pyarrow.parquet as pq

    from nyc_taxi_data_engineering_project_spark import catalog, io

    inputs = h.inputs("pipeline", lambda out: _pipeline_inputs(h.seed, out))
    landing = os.path.join(inputs, "landing")
    # the source grows during the run: work on a fresh copy of the base
    run_dir = os.path.join(h.work, "tmp", "pipeline")
    src, layout, trips = (os.path.join(run_dir, d)
                          for d in ("source", "layout", "trips"))
    shutil.rmtree(run_dir, ignore_errors=True)
    with h.tr.span("gen"):
        shutil.copytree(os.path.join(inputs, "base"), src)

    def parts(i: int, name: str) -> list[str]:
        d = os.path.join(landing, f"m{i:02d}", name)
        return [os.path.join(d, f) for f in sorted(os.listdir(d))]

    def answers_for(m: int) -> dict:
        """Oracle answers once months ``1..m`` have landed: the base
        corpus plus those months' part files."""
        return h.answers(PIPELINE_KEYS, inputs, lambda: oracle.connect(
            os.path.join(inputs, "base"), _cpus(), {
                n: [p for i in range(1, m + 1) for p in parts(i, n)]
                for n in FACTS}), f"-m{m}")

    def ingest(i: int, reload: bool) -> None:
        path = os.path.join(landing, f"m{i:02d}", "trips.parquet")
        before = _files(trips)
        with h.tr.span("io.ingest", reload=reload) as s:
            n = io.ingest_trips(h.spark, path, trips)
        files, nbytes = _written(before, trips)
        with open(os.path.join(landing, f"m{i:02d}", "kept")) as fh:
            kept = int(fh.read())
        s.attrs.update(rows=n, files=files, bytes=nbytes,
                       rows_landed=pq.ParquetFile(path).metadata.num_rows,
                       landed_bytes=os.path.getsize(path))
        # a re-delivered month must converge to the same row count
        h.attempted += 1
        if n != kept:
            h.fail(f"ingest of month {i}: {n} rows written, {kept} kept")

    h.start()
    with h.tr.span("catalog.layout_build"):
        built = catalog.build_workload_layout(h.spark, src, layout,
                                              tables=FACTS)
    facts = [os.path.join(layout, built[n]) for n in FACTS]
    h.warm_up(src, PIPELINE_KEYS)
    ingest(0, reload=False)
    rng = random.Random(h.seed)
    results: dict[int, list] = {}

    def month() -> bool:
        """The next month: one pass of the pipeline."""
        i = len(results) + 1
        op = h.new_op(f"month{i}")
        with h.tr.span("month", op=op, month=i):
            with h.tr.span("land"):
                appended = 0
                for name in FACTS:
                    for p in parts(i, name):
                        dst = os.path.join(src, f"{name}.parquet",
                                           os.path.basename(p))
                        shutil.copyfile(p, dst)
                        appended += os.path.getsize(dst)
            ingest(i, reload=False)
            ingest(rng.randrange(i), reload=True)
            before = _files(layout)
            c0 = sum(_manifest(f).get("minor_compactions", 0)
                     for f in facts)
            with h.tr.span("catalog.maintain") as s:
                catalog.build_workload_layout(h.spark, src, layout,
                                              tables=FACTS)
            s.attrs.update(
                bytes=_written(before, layout)[1], appended_bytes=appended,
                compactions=sum(_manifest(f).get("minor_compactions", 0)
                                for f in facts) - c0)
            results[i] = [h.query(key, src) for key in PIPELINE_KEYS]
        return i < MONTHS_MAX

    h.measure(month, 1)
    # answers depend only on the landed files: check after measuring
    for i, month_results in results.items():
        expect = answers_for(i)
        for result in month_results:
            h.check(*result, expect)
    buckets = int(_manifest(facts[0])["buckets"])
    h.extra["catalog.files_per_bucket"] = sum(
        len(_files(f)) for f in facts) / (len(facts) * buckets)
    h.extra["catalog.layout_bytes_per_source_byte"] = sum(
        sum(_files(f).values()) for f in facts) / sum(
        sum(_files(os.path.join(src, f"{n}.parquet")).values())
        for n in FACTS)


def _cpus() -> int:
    return int(os.environ["SPARK_GRAFT_CPUS"])


WORKLOADS = {
    "board_sf01": run_board,
    "tpch_scale": run_tpch,
    "monthly_pipeline": run_pipeline,
}
