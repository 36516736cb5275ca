"""Per-key shuffle-volume audit: does shuffled data scale LINEARLY?

The timing evidence (SCALE.md §10-11) shows per-row cost stays flat at
10x/100x; this audit measures the other axis a 100 TB plan lives or
dies on — how many bytes each key actually puts through the shuffle,
and how that volume grows with input. For every registry key it runs
the full plan to completion (noop sink — execution without collection)
under an event-logged session at two SFs and attributes task-level
``Shuffle Bytes Written`` to keys via job groups.

Reading the result (SHUFFLE_AUDIT.json / SCALE.md §12):

- ratio ≈ input ratio (10x): the key shuffles its data once per
  necessary repartition — linear, the correct shape for shuffle-bound
  work (facts joins, global aggs).
- ratio ≈ 1x at small absolute bytes: the key's shuffles are
  metadata-sized regardless of corpus (broadcast-dim joins, two-phase
  rank offset frames, bounded sketches) — the designs SCALE.md claims
  are shuffle-free are observably so.
- ratio >> input ratio: superlinear shuffle — a blowup the timing
  numbers could hide at test scale but 100 TB would not forgive.

Streaming (d*) keys execute their replay during *construction* on
Spark's own streaming threads, where the job group does not propagate.
The audit records a per-key submission-time window, and
``bench.tag_task_metrics`` folds those foreign-group jobs into the key
executing at that moment, so d-key bytes are exact; ``streaming: true``
marks that a key's volume includes replay jobs attributed by window.

Usage: python scripts/shuffle_audit.py [sf_dir_small] [sf_dir_big]
Writes SHUFFLE_AUDIT.json at the repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF_SMALL = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
SF_BIG = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
OUT = os.path.join(_REPO, "SHUFFLE_AUDIT.json")


def _session(evlog: str):
    from nyc_taxi_data_engineering_project_spark.session import get_session

    return get_session(
        "shuffle-audit",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
        extra_conf={"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{evlog}",
                    "spark.eventLog.compress": "false"},
    )


def run_all(sf_dir: str) -> dict[str, int]:
    """key -> summed task Shuffle Bytes Written over its jobs."""
    from bench import tag_task_metrics
    from nyc_taxi_data_engineering_project_spark import registry

    registry.load_all()
    evlog = tempfile.mkdtemp(prefix="shuffle_audit_ev_")
    spark = _session(evlog)
    sc = spark.sparkContext
    windows: dict[str, tuple[float, float]] = {}
    try:
        for key in sorted(registry.QUERIES):
            sc.setJobGroup(key, key)
            w0 = time.time() * 1000.0
            try:
                df = registry.QUERIES[key](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                print(f"{key}: ERROR {type(exc).__name__}: {exc}",
                      file=sys.stderr)
            finally:
                windows[key] = (w0, time.time() * 1000.0)
                sc.setJobGroup("audit-untagged", "")
    finally:
        spark.stop()
        time.sleep(1)  # let the event log flush on stop
    try:
        return {key: int(m["shuffle_write_bytes"])
                for key, m in tag_task_metrics(evlog, windows).items()}
    finally:
        shutil.rmtree(evlog, ignore_errors=True)


def main() -> None:
    t0 = time.time()
    small = run_all(SF_SMALL)
    big = run_all(SF_BIG)
    keys = sorted(set(small) | set(big))
    rows = {}
    for k in keys:
        s, b = small.get(k, 0), big.get(k, 0)
        rows[k] = {
            "small_bytes": s,
            "big_bytes": b,
            "ratio": round(b / s, 2) if s else None,
            "streaming": k.startswith("d"),
        }
    result = {
        "sf_small": SF_SMALL,
        "sf_big": SF_BIG,
        "secs": round(time.time() - t0, 1),
        "keys": rows,
        # standing adjudications for flagged outliers: carried by the
        # generator so regeneration keeps them
        "notes": {
            "tpch_q2": (
                "16.5x on the sf0.01->sf0.1 step is a broadcast-"
                "threshold denominator artifact, not super-linear "
                "scaling: measured at real tiers the growth is LINEAR "
                "(K=100->K=1000, 10x input: 10.82x shuffle bytes; "
                "sf0.1->K=100 shows 260x for the same reason - "
                "supplier-side joins cross from broadcast to shuffle). "
                "scripts/stress100_results/q2_shuffle_tiers.json"
            ),
        },
    }
    with open(OUT, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({k: v for k, v in result.items() if k != "keys"}))
    big_sorted = sorted(rows.items(), key=lambda kv: -kv[1]["big_bytes"])
    for k, v in big_sorted[:15]:
        print(f"{k:28s} {v['small_bytes']:>12,} -> {v['big_bytes']:>12,} "
              f"({v['ratio']}x)")


if __name__ == "__main__":
    main()
