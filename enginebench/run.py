"""Benchmark entry point.

    python3 enginebench/run.py --workload board_sf01 --seed 1 \
        --seconds 8 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed`` (cached under ``enginebench/.work``), starts the engine on
``local[<nproc>]``, runs the workload's mix in a closed loop for
``--seconds`` and a minimum number of passes, checks every output
against the DuckDB oracle, and prints one JSON object as the last line
of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a run with the Spark event log on; its ``mix_s`` less that of
the untraced runs is reported as the tracing overhead. The full result,
stamped with the core count and the Spark, Java and Python versions, is
also written to ``enginebench/.work/results/``; ``compare.py`` diffs two
such files.

Everything the run writes stays under ``enginebench/.work``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "3g"


def _environment() -> None:
    """Pin the engine to this machine's cores and keep every file it
    writes (Spark scratch, JVM temp, stream checkpoints) inside WORK.
    Must run before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    dirs = {d: os.path.join(tmp, d) for d in ("spark", "scratch", "ckpt")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": dirs["spark"],
        "SPARK_GRAFT_SCRATCH_DIR": dirs["scratch"],
        "SPARK_GRAFT_REPLAY_CKPT_DIR": dirs["ckpt"],
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the package from the checkout too
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "scripts")]


def stamp(spark_version: str, java_version: str) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "spark": spark_version,
        "java": java_version,
        "python": platform.python_version(),
    }


def _result_path(workload: str, seed, trace: int) -> str:
    return os.path.join(WORK, "results",
                        f"{workload}-seed{seed}-trace{trace}.json")


def _untraced_mix_s(args) -> float:
    """Median ``mix_s`` of the untraced runs of this workload and run
    time saved in this checkout, any seed (the figure is steady across
    seeds); if there is none, such a run is made now in a fresh process."""
    def saved() -> list[float]:
        out = []
        for path in glob.glob(_result_path(args.workload, "*", 0)):
            with open(path) as fh:
                res = json.load(fh)
            if res["seconds"] == args.seconds:
                out.append(res["result"]["metrics"]["mix_s"]["value"])
        return out

    if not saved():
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload",
             args.workload, "--seed", str(args.seed), "--seconds",
             str(args.seconds), "--trace", "0"],
            stdout=subprocess.DEVNULL, check=True, timeout=170)
    return statistics.median(saved())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _environment()
    try:
        import nyc_taxi_data_engineering_project_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine package not found under {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import metrics
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    untraced = _untraced_mix_s(args) if args.trace else None

    h = workloads.Harness(WORK, args.seed, args.seconds,
                          traced=bool(args.trace))
    try:
        workloads.WORKLOADS[args.workload](h)
        env = stamp(h.spark.version, h.spark.sparkContext._jvm.System
                    .getProperty("java.version"))
    finally:
        h.stop()
    if args.trace:
        jobs = spans.read_event_log(h.evlog)
        e2e = metrics.end_to_end(h, T_START)
        values = metrics.per_layer(h, jobs, e2e["mix_s"] - untraced)
        units = dict(metrics.PER_LAYER)
    else:
        values = metrics.end_to_end(h, T_START)
        units = dict(metrics.END_TO_END)
    result = {
        "correct": not h.failures,
        "attempted": h.attempted,
        "failed": len(h.failures),
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(_result_path(args.workload, args.seed, args.trace),
              "w") as fh:
        json.dump({"stamp": env, "workload": args.workload,
                   "seed": args.seed, "seconds": args.seconds,
                   "failures": h.failures,
                   "queries": [(s.attrs["key"], s.wall) for s in h.tr.spans
                               if s.name == "query" and s.op],
                   "result": result}, fh, indent=1)
    phases: dict[str, float] = {}
    for s in h.tr.spans:
        if s.parent is None and s.op is None:
            phases[s.name] = round(phases.get(s.name, 0.0) + s.wall, 3)
    print(f"# stamp {json.dumps(env)}")
    print(f"# unmeasured phases (s) {json.dumps(phases)}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
