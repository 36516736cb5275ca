"""Injected-process-death probe for the maintenance lifecycle (r14,
verdict ask 2): every crash-window claim through r13 was proven against
SIMULATED stranded files (directories renamed by hand into the
post-crash shape). This probe replaces simulation with real death: a
child Python process runs the operation with ``SPARK_GRAFT_CRASH_POINT``
armed (crashpoints.py) and SIGKILLs itself exactly inside the named
window — no atexit, no JVM shutdown hooks, no flushes — then fresh
processes assert the documented recovery:

  kill point                      | documented recovery
  --------------------------------|------------------------------------
  sketch_swap_between_renames     | reader REFUSES (stranded swap),
                                  | writer entry heals, content = the
                                  | killed writer's payload
  layout_swap_between_renames     | reader fails loudly (catalog table
                                  | -> missing dir); next maintainer
                                  | entry restores the parked tree in
                                  | O(1) (no rebuild, fingerprint and
                                  | file set unchanged)
  minor_compact_mid_scratch       | nothing published — table intact,
                                  | re-entry cleans scratch + compacts
  layout_swap_between_renames     | heal rolls the table back to its
   (during an incremental append) | pre-append tree and manifest; the
                                  | next build lands the delta exactly
                                  | once (served rows = source rows)
  layout_swap_between_renames     | heal rolls the table back to the
   (during a rebuild=True full    | previous tree and manifest; the
   build)                         | next build serves source rows
  layout_publish_before_marker    | marker proves non-consumption;
                                  | checkpoint replay deletes the
                                  | partial set and republishes
                                  | EXACTLY ONCE
  layout_marker_before_append     | replay skips publication (marker
                                  | says consumed); every-call
                                  | maintenance build heals the append

Each phase (kill / assert / recover) is its own subprocess so no Spark
session — or embedded Derby metastore — is shared across a kill. The
parent reaps orphaned JVMs (a SIGKILLed Python driver leaves its
gateway JVM behind) by scanning /proc for the probe's unique env tag.

Run:  python scripts/crash_injection_probe.py
Artifact: scripts/stress100_results/crash_injection.json
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

SRC_SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
PROBE_TAG = "SPARK_GRAFT_CRASH_PROBE_ID"


# ----------------------------------------------------------------- #
# child phases (each runs in its own process; `main` orchestrates)   #
# ----------------------------------------------------------------- #

def _session(cpus: int = 8):
    from nyc_taxi_data_engineering_project_spark.session import get_session

    s = get_session("crash-probe", cpus=cpus)
    s.sparkContext.setLogLevel("ERROR")
    return s


def _sketch_target(work: str) -> str:
    return os.path.join(work, "sketch_store")


def phase_sketch_kill(work: str) -> None:
    """Write v1 cleanly, then write v2 with the swap window armed —
    the process dies between rename(target, old) and rename(tmp,
    target), stranding v2 in .tmp and v1 in .old."""
    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        _write_cells,
    )

    spark = _session()
    t = _sketch_target(work)
    _write_cells(spark.range(0, 10).toDF("v"), t,
                 inner_manifest={"ver": 1})
    os.environ["SPARK_GRAFT_CRASH_POINT"] = "sketch_swap_between_renames"
    _write_cells(spark.range(100, 120).toDF("v"), t,
                 inner_manifest={"ver": 2})
    raise AssertionError("unreachable — the swap window must kill us")


def phase_sketch_assert_reader_refuses(work: str) -> None:
    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        _sketch_swap,
    )

    spark = _session()
    try:
        _sketch_swap(_sketch_target(work)).read(spark)
    except ValueError as exc:
        assert "stranded swap" in str(exc), str(exc)
        print("READER_REFUSED_OK", flush=True)
        return
    raise AssertionError("reader served a mid-swap sketch store")


def phase_sketch_assert_writer_heals(work: str) -> None:
    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        _sketch_swap,
    )

    spark = _session()
    t = _sketch_target(work)
    _sketch_swap(t).heal()  # the writer-entry heal
    df = _sketch_swap(t).read(spark)
    vals = sorted(r["v"] for r in df.collect())
    # the killed writer's v2 payload (staged complete in .tmp with its
    # inner manifest) is what the heal publishes
    assert vals == list(range(100, 120)), vals
    assert not os.path.exists(t + ".tmp") and not os.path.exists(t + ".old")
    print("WRITER_HEALED_OK", flush=True)


def _layout_dirs(work: str) -> tuple[str, str]:
    return os.path.join(work, "sf"), os.path.join(work, "layout")


def _setup_layout_source(work: str) -> str:
    """A private copy of the orders table to serve as layout source."""
    sf, _lay = _layout_dirs(work)
    os.makedirs(sf, exist_ok=True)
    src = os.path.join(SRC_SF, "orders.parquet")
    dst = os.path.join(sf, "orders.parquet")
    if not os.path.exists(dst):
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            os.makedirs(dst)
            shutil.copy(src, os.path.join(dst, "part-00000.parquet"))
    return sf


def _add_source_part(spark, work: str, i: int) -> None:
    """Land one new source part of 500 orders with fresh keys."""
    sf, _lay = _layout_dirs(work)
    df = spark.read.parquet(os.path.join(sf, "orders.parquet"))
    extra = df.limit(500).withColumn(
        "o_orderkey", df.o_orderkey + (i + 1) * 50_000_000)
    tmp = os.path.join(work, f"extra_{i}")
    extra.coalesce(1).write.parquet(tmp)
    part = glob.glob(os.path.join(tmp, "*.parquet"))[0]
    shutil.copy(part, os.path.join(
        sf, "orders.parquet", f"part-extra-{i:03d}.parquet"))
    shutil.rmtree(tmp)


def phase_layout_build(work: str, appends: int = 0) -> None:
    """Build the orders layout; optionally append extra source parts
    (incremental appends = one new sorted run per touched bucket) so
    minor compaction has runs to merge."""
    from nyc_taxi_data_engineering_project_spark import catalog

    sf, lay = _layout_dirs(work)
    _setup_layout_source(work)
    spark = _session()
    catalog.build_workload_layout(spark, sf, lay, buckets=4,
                                  tables=("orders",))
    for i in range(appends):
        # new source part -> append-only drift -> incremental append
        _add_source_part(spark, work, i)
        catalog.build_workload_layout(spark, sf, lay, buckets=4,
                                      tables=("orders",))
    tbl = spark.conf.get(catalog._layout_conf_key(sf, "orders"))
    n = spark.table(tbl).count()
    state = {"tbl": tbl, "rows": n,
             "files": catalog._layout_n_files(os.path.join(lay, tbl)),
             "manifest": catalog._read_manifest(lay, tbl)}
    with open(os.path.join(work, "layout_state.json"), "w") as fh:
        json.dump(state, fh)
    print("LAYOUT_BUILT_OK", flush=True)


def phase_compact_kill(work: str, point: str, full: bool) -> None:
    from nyc_taxi_data_engineering_project_spark import catalog

    sf, lay = _layout_dirs(work)
    spark = _session()
    catalog.build_workload_layout(spark, sf, lay, buckets=4,
                                  tables=("orders",))  # re-register
    os.environ["SPARK_GRAFT_CRASH_POINT"] = point
    catalog.compact_workload_layout(spark, sf, lay, tables=("orders",),
                                    full=full)
    raise AssertionError("unreachable — the compaction window must kill us")


def phase_layout_assert_reader_refuses(work: str) -> None:
    """Mid-swap, the still-registered catalog table points at a
    missing directory: a reader that bypasses the maintainer must fail
    loudly, not serve partial data."""
    sf, lay = _layout_dirs(work)
    with open(os.path.join(work, "layout_state.json")) as fh:
        state = json.load(fh)
    spark = _session()
    try:
        n = spark.table(state["tbl"]).count()
    except Exception:
        print("READER_REFUSED_OK", flush=True)
        return
    raise AssertionError(
        f"reader served {n} rows from a mid-swap layout table")


def phase_layout_assert_heal(work: str, expect_o1: bool) -> None:
    """Maintainer entry (build_workload_layout) heals. expect_o1: the
    heal must be the O(1) parked-tree restore — same fingerprint, same
    file count, zero recorded compactions — not a rebuild."""
    from nyc_taxi_data_engineering_project_spark import catalog

    sf, lay = _layout_dirs(work)
    with open(os.path.join(work, "layout_state.json")) as fh:
        state = json.load(fh)
    spark = _session()
    t0 = time.time()
    catalog.build_workload_layout(spark, sf, lay, buckets=4,
                                  tables=("orders",))
    heal_s = round(time.time() - t0, 2)
    tbl = state["tbl"]
    n = spark.table(tbl).count()
    assert n == state["rows"], (n, state["rows"])
    man = catalog._read_manifest(lay, tbl)
    assert man is not None
    if expect_o1:
        assert man["fingerprint"] == state["manifest"]["fingerprint"]
        assert int(man.get("compactions", 0)) == \
            int(state["manifest"].get("compactions", 0))
        files = catalog._layout_n_files(os.path.join(lay, tbl))
        assert files == state["files"], (files, state["files"])
    # no parked/tmp debris left behind
    assert not os.path.isdir(os.path.join(lay, tbl + "_compact_old"))
    print(f"MAINTAINER_HEALED_OK heal_s={heal_s}", flush=True)


def phase_minor_assert_intact_then_compact(work: str) -> None:
    """mid-scratch kill published nothing: the table reads intact, and
    a re-entered minor compaction completes, shrinking the file set."""
    from nyc_taxi_data_engineering_project_spark import catalog

    sf, lay = _layout_dirs(work)
    with open(os.path.join(work, "layout_state.json")) as fh:
        state = json.load(fh)
    spark = _session()
    catalog.build_workload_layout(spark, sf, lay, buckets=4,
                                  tables=("orders",))
    tbl = state["tbl"]
    assert spark.table(tbl).count() == state["rows"]
    before, after = catalog.compact_workload_layout(
        spark, sf, lay, tables=("orders",), full=False)["orders"]
    assert after < before, (before, after)
    assert spark.table(tbl).count() == state["rows"]
    print(f"MINOR_REENTRY_OK files {before}->{after}", flush=True)


def phase_append_kill(work: str) -> None:
    """Land a new source part and maintain the layout with the swap
    window armed: the incremental append dies between the renames."""
    from nyc_taxi_data_engineering_project_spark import catalog

    sf, lay = _layout_dirs(work)
    spark = _session()
    catalog.build_workload_layout(spark, sf, lay, buckets=4,
                                  tables=("orders",))  # re-register
    _add_source_part(spark, work, 0)
    os.environ["SPARK_GRAFT_CRASH_POINT"] = "layout_swap_between_renames"
    catalog.build_workload_layout(spark, sf, lay, buckets=4,
                                  tables=("orders",))
    raise AssertionError("unreachable — the append's swap must kill us")


def phase_append_assert_exactly_once(work: str) -> None:
    """The heal restores the pre-append tree and manifest; the next
    build then lands the delta exactly once."""
    from nyc_taxi_data_engineering_project_spark import catalog

    sf, lay = _layout_dirs(work)
    with open(os.path.join(work, "layout_state.json")) as fh:
        state = json.load(fh)
    tbl = state["tbl"]
    catalog._layout_swap(lay, tbl).heal()
    assert catalog._read_manifest(lay, tbl) == state["manifest"]
    files = catalog._layout_n_files(os.path.join(lay, tbl))
    assert files == state["files"], (files, state["files"])
    spark = _session()
    catalog.build_workload_layout(spark, sf, lay, buckets=4,
                                  tables=("orders",))
    served = catalog.table(spark, sf, "orders")
    n = served.count()
    nd = served.select("o_orderkey").distinct().count()
    want = spark.read.parquet(os.path.join(sf, "orders.parquet")).count()
    assert n == nd == want == state["rows"] + 500, (n, nd, want)
    assert not os.path.isdir(os.path.join(lay, tbl + "_compact_old"))
    print(f"APPEND_EXACTLY_ONCE_OK rows={n}", flush=True)


def phase_rebuild_kill(work: str) -> None:
    """Rebuild the layout in full with the swap window armed: the
    staged tree is complete, and the process dies between the
    renames."""
    from nyc_taxi_data_engineering_project_spark import catalog

    sf, lay = _layout_dirs(work)
    spark = _session()
    catalog.build_workload_layout(spark, sf, lay, buckets=4,
                                  tables=("orders",))  # re-register
    os.environ["SPARK_GRAFT_CRASH_POINT"] = "layout_swap_between_renames"
    catalog.build_workload_layout(spark, sf, lay, buckets=4,
                                  tables=("orders",), rebuild=True)
    raise AssertionError("unreachable — the rebuild's swap must kill us")


def phase_rebuild_assert_previous(work: str) -> None:
    """The heal restores the previous tree and manifest; the next build
    serves the source rows."""
    from nyc_taxi_data_engineering_project_spark import catalog

    sf, lay = _layout_dirs(work)
    with open(os.path.join(work, "layout_state.json")) as fh:
        state = json.load(fh)
    tbl = state["tbl"]
    catalog._layout_swap(lay, tbl).heal()
    assert catalog._read_manifest(lay, tbl) == state["manifest"]
    files = catalog._layout_n_files(os.path.join(lay, tbl))
    assert files == state["files"], (files, state["files"])
    spark = _session()
    catalog.build_workload_layout(spark, sf, lay, buckets=4,
                                  tables=("orders",))
    served = catalog.table(spark, sf, "orders")
    n = served.count()
    want = spark.read.parquet(os.path.join(sf, "orders.parquet")).count()
    assert n == want == state["rows"], (n, want, state["rows"])
    assert not os.path.isdir(os.path.join(lay, tbl + "_compact_old"))
    assert not os.path.isdir(os.path.join(lay, tbl + "_compact_tmp"))
    print(f"REBUILD_ROLLED_BACK_OK rows={n}", flush=True)


def _stream_paths(work: str) -> dict[str, str]:
    return {k: os.path.join(work, k)
            for k in ("feed", "src", "layout", "ckpt")}


def phase_stream_kill(work: str, point: str) -> None:
    """d14's wiring (orders as a 3-micro-batch file stream into
    stream_append_layout) with a kill inside batch 1's window."""
    from nyc_taxi_data_engineering_project_spark import catalog

    p = _stream_paths(work)
    spark = _session()
    orders = spark.read.parquet(os.path.join(SRC_SF, "orders.parquet"))
    if not os.path.exists(p["feed"]):
        orders.repartition(3).write.parquet(p["feed"])
    os.makedirs(p["src"], exist_ok=True)
    stream = (spark.readStream.schema(orders.schema)
              .option("maxFilesPerTrigger", 1).parquet(p["feed"]))
    os.environ["SPARK_GRAFT_CRASH_POINT"] = f"{point}:2"  # batch 1
    catalog.stream_append_layout(stream, p["src"], p["layout"],
                                 "orders", p["ckpt"], buckets=4)
    raise AssertionError("unreachable — batch 1's window must kill us")


def phase_stream_recover(work: str) -> None:
    """Re-run the SAME stream (same checkpoint): the replay guard +
    deterministic names + marker must land every order exactly once in
    the served layout."""
    from nyc_taxi_data_engineering_project_spark import catalog
    from nyc_taxi_data_engineering_project_spark.catalog import table

    p = _stream_paths(work)
    spark = _session()
    orders = spark.read.parquet(os.path.join(SRC_SF, "orders.parquet"))
    stream = (spark.readStream.schema(orders.schema)
              .option("maxFilesPerTrigger", 1).parquet(p["feed"]))
    catalog.stream_append_layout(stream, p["src"], p["layout"],
                                 "orders", p["ckpt"], buckets=4)
    served = table(spark, p["src"], "orders")
    n, nd = served.count(), served.select("o_orderkey").distinct().count()
    want = orders.count()
    assert n == want == nd, (n, nd, want)
    print(f"STREAM_EXACTLY_ONCE_OK rows={n}", flush=True)


PHASES = {
    "sketch_kill": phase_sketch_kill,
    "sketch_reader": phase_sketch_assert_reader_refuses,
    "sketch_heal": phase_sketch_assert_writer_heals,
    "layout_build": phase_layout_build,
    "layout_build_runs": lambda w: phase_layout_build(w, appends=2),
    "swap_kill_full": lambda w: phase_compact_kill(
        w, "layout_swap_between_renames", full=True),
    "swap_kill_minor": lambda w: phase_compact_kill(
        w, "layout_swap_between_renames", full=False),
    "scratch_kill": lambda w: phase_compact_kill(
        w, "minor_compact_mid_scratch", full=False),
    "layout_reader": phase_layout_assert_reader_refuses,
    "layout_heal_o1": lambda w: phase_layout_assert_heal(w, True),
    "minor_reentry": phase_minor_assert_intact_then_compact,
    "append_kill": phase_append_kill,
    "append_exactly_once": phase_append_assert_exactly_once,
    "rebuild_kill": phase_rebuild_kill,
    "rebuild_previous": phase_rebuild_assert_previous,
    "stream_kill_publish": lambda w: phase_stream_kill(
        w, "layout_publish_before_marker"),
    "stream_kill_marker": lambda w: phase_stream_kill(
        w, "layout_marker_before_append"),
    "stream_recover": phase_stream_recover,
}


# ----------------------------------------------------------------- #
# parent orchestration                                               #
# ----------------------------------------------------------------- #

def _reap_orphan_jvms(tag: str) -> int:
    """A SIGKILLed Python driver leaves its py4j gateway JVM behind;
    find processes carrying our probe tag in their environment and
    kill them (Linux /proc scan — this box)."""
    n = 0
    for pid_dir in glob.glob("/proc/[0-9]*"):
        try:
            with open(os.path.join(pid_dir, "environ"), "rb") as fh:
                env = fh.read()
        except OSError:
            continue
        if tag.encode() in env:
            pid = int(os.path.basename(pid_dir))
            if pid == os.getpid():
                continue
            try:
                os.kill(pid, signal.SIGKILL)
                n += 1
            except OSError:
                pass
    return n


def _run_phase(phase: str, work: str, tag_val: str,
               expect_kill: bool = False) -> dict:
    env = dict(os.environ)
    env[PROBE_TAG] = tag_val
    env.pop("SPARK_GRAFT_CRASH_POINT", None)
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--phase", phase, work],
        env=env, capture_output=True, text=True, cwd=REPO)
    secs = round(time.time() - t0, 1)
    reaped = _reap_orphan_jvms(tag_val)
    tail = (proc.stdout + proc.stderr)[-1500:]
    ok = (proc.returncode == -signal.SIGKILL if expect_kill
          else proc.returncode == 0)
    marker = [ln for ln in (proc.stdout or "").splitlines()
              if ln.endswith("_OK") or "_OK " in ln]
    return {"phase": phase, "rc": proc.returncode, "secs": secs,
            "expected_sigkill": expect_kill, "ok": ok,
            "jvms_reaped": reaped,
            "marker": marker[-1] if marker else None,
            "tail": None if ok else tail}


def main() -> None:
    if "--phase" in sys.argv:
        i = sys.argv.index("--phase")
        PHASES[sys.argv[i + 1]](sys.argv[i + 2])
        return

    scenarios = []
    all_ok = True

    def run(name: str, steps: list[tuple[str, bool]]) -> None:
        nonlocal all_ok
        work = tempfile.mkdtemp(prefix=f"crashprobe_{name}_")
        tag = f"probe-{name}-{os.getpid()}"
        rows = []
        for phase, expect_kill in steps:
            r = _run_phase(phase, work, tag, expect_kill)
            rows.append(r)
            print(f"[{name}] {phase}: rc={r['rc']} "
                  f"{'OK' if r['ok'] else 'FAIL'} "
                  f"({r['secs']}s, reaped {r['jvms_reaped']} JVMs)"
                  + (f" {r['marker']}" if r["marker"] else ""),
                  flush=True)
            if not r["ok"]:
                all_ok = False
                print(r["tail"], flush=True)
                break
        scenarios.append({"scenario": name, "steps": rows,
                          "ok": all(x["ok"] for x in rows)})
        shutil.rmtree(work, ignore_errors=True)

    run("sketch_swap", [
        ("sketch_kill", True),
        ("sketch_reader", False),
        ("sketch_heal", False),
    ])
    run("layout_swap_full", [
        ("layout_build", False),
        ("swap_kill_full", True),
        ("layout_reader", False),
        ("layout_heal_o1", False),
    ])
    run("layout_swap_minor", [
        ("layout_build_runs", False),
        ("swap_kill_minor", True),
        ("layout_reader", False),
        ("layout_heal_o1", False),
    ])
    run("minor_mid_scratch", [
        ("layout_build_runs", False),
        ("scratch_kill", True),
        ("minor_reentry", False),
    ])
    run("layout_swap_append", [
        ("layout_build", False),
        ("append_kill", True),
        ("layout_reader", False),
        ("append_exactly_once", False),
    ])
    run("layout_swap_rebuild", [
        ("layout_build", False),
        ("rebuild_kill", True),
        ("rebuild_previous", False),
    ])
    run("stream_publish_before_marker", [
        ("stream_kill_publish", True),
        ("stream_recover", False),
    ])
    run("stream_marker_before_append", [
        ("stream_kill_marker", True),
        ("stream_recover", False),
    ])

    art = os.path.join(HERE, "stress100_results", "crash_injection.json")
    summary = {"sf_dir": SRC_SF, "all_ok": all_ok, "scenarios": scenarios}
    with open(art, "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({"all_ok": all_ok,
                      "scenarios": {s["scenario"]: s["ok"]
                                    for s in scenarios}}), flush=True)
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
