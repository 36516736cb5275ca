"""Wide-plane ANN layout end-to-end — the 100 TB deployment shape
SCALE.md §19c finding 2 named: "wide planes in the LAYOUT KEY, stored
assignment, pruned scan".

lsh_plane_probe.py measures the plane-count RULE (recall at every
width, pairs/query logarithmic at wide widths); without a layout at
the wide width, every run re-derives bucket ids — a full tagging scan
§19c measured as the wide mode's bound. This probe drives the REAL
ANN path ``llm.lsh_ann_topk`` (not a re-implementation) through these
modes per corpus tier:

- ``layout4``   — 4-plane (oracle-contract) layout, width 4: the
                  stored-assignment baseline whose probed pairs grow
                  linearly (corpus·5/16).
- ``wide_scan`` — width ``w = lsh_planes_for(n)``, NO layout: buckets
                  recomputed inline (the tagging-scan-bound mode).
- ``wide_layout`` — the layout REBUILT at ``w``
                  (``build_workload_layout(lsh_planes=w)``), width
                  ``w``: served from the stored wide assignment with
                  dynamic partition pruning.
- ``wide_layout_appended_compacted`` — the same layout after two ~5 %
                  appends and a minor compaction.

Per mode: wall (min of 2), recall@5 against 8 planted near-neighbors
per query (the same deterministic construction as lsh_plane_probe.py —
recall ≥ 0.9 is the gate), plus the layout build seconds so the
amortization story is on the record.

Run: python scripts/wide_plane_layout_probe.py [n_rows ...]
     (default: 3160000 9800000 — the K=316 / K=1000 embedding tiers)
Artifact: scripts/stress100_results/wide_plane_layout.json
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F  # noqa: E402

from nyc_taxi_data_engineering_project_spark.catalog import (  # noqa: E402
    build_workload_layout,
    drop_workload_layout,
    layout_lsh_planes,
)
from nyc_taxi_data_engineering_project_spark.queries.llm import (  # noqa: E402
    lsh_ann_topk,
    lsh_planes_for,
)
from nyc_taxi_data_engineering_project_spark.session import (  # noqa: E402
    driver_memory_for,
    get_session,
)

SIZES = [int(a) for a in sys.argv[1:]] or [3_160_000, 9_800_000]
N_QUERIES = 20
N_PLANTED = 8
WORK = os.environ.get("SPARK_GRAFT_WIDE_PROBE_DIR",
                      "/tmp/spark_graft_wide_probe")


def gen_vectors(spark, n: int, id_offset: int = 0):
    """(vec_id, label, embedding) isotropic rows — THE base-vector
    formula; mode 4's delta calls this with an offset so the delta's
    distribution can never silently diverge from the corpus it appends
    to (the recall gate's 'delta rows are isotropic like the base'
    argument depends on one formula, not two copies)."""
    return spark.range(n).select(
        (F.lit(id_offset) + F.col("id")).alias("vec_id"),
        F.lit("x").alias("label"),
        F.array(*[
            (F.xxhash64((F.col("id") + id_offset) * 64 + F.lit(d))
             % 1_000_001).cast("double") / 500_000.0
            for d in range(64)
        ]).alias("embedding"),
    )


def gen_corpus(spark, n_rows: int, sf_dir: str) -> None:
    """Deterministic corpus in sf_dir SHAPE (embeddings.parquet with
    vec_id/label/embedding) so the registry key reads it through
    catalog.table() like any testdata dir. Same construction as
    lsh_plane_probe.gen_corpus: isotropic base + 8 planted
    near-neighbors (symmetric ±0.02 perturbation) per query vector."""
    base = gen_vectors(spark, n_rows)
    planted = spark.range(N_QUERIES * N_PLANTED).select(
        (F.lit(n_rows) + F.col("id")).alias("vec_id"),
        F.lit("x").alias("label"),
        F.array(*[
            (F.xxhash64((F.col("id") % N_QUERIES) * 64 + F.lit(d))
             % 1_000_001).cast("double") / 500_000.0
            + (F.pmod(F.xxhash64(F.col("id") * 64 + F.lit(d) + 7_777_777),
                      F.lit(41))).cast("double") / 1000.0 - 0.02
            for d in range(64)
        ]).alias("embedding"),
    )
    (base.unionByName(planted)
     .repartition(64)
     .write.mode("overwrite")
     .parquet(os.path.join(sf_dir, "embeddings.parquet")))


def run_mode(spark, sf_dir: str, truth: dict, n_planes: int) -> dict:
    """One lsh_ann_topk execution at ``n_planes``: min-of-2 wall +
    recall@5."""
    walls = []
    got = None
    for _ in range(2):
        t0 = time.time()
        got = lsh_ann_topk(spark, sf_dir, n_planes).collect()
        walls.append(round(time.time() - t0, 2))
    by_q: dict[int, set] = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    recall = round(sum(
        len(by_q.get(q, set()) & truth[q]) / 5.0 for q in range(N_QUERIES)
    ) / N_QUERIES, 3)
    return {"wall_s": min(walls), "walls": walls, "recall_at_5": recall}


def main() -> None:
    out = {"n_queries": N_QUERIES, "n_planted": N_PLANTED, "corpora": []}
    # heap from the engine's own rule, sized for the LARGEST tier —
    # local mode launches ONE JVM per Python process, so the heap must
    # be right before the first session (estimate ~600 B/row parquet)
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory_for(
            max(SIZES) * 600)
    spark = get_session("wide-plane-layout-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for n_rows in SIZES:
        sf_dir = os.path.join(WORK, f"sf_{n_rows}")
        lay_dir = os.path.join(WORK, f"layout_{n_rows}")
        os.makedirs(sf_dir, exist_ok=True)

        t0 = time.time()
        gen_corpus(spark, n_rows, sf_dir)
        gen_s = round(time.time() - t0, 1)
        wide = lsh_planes_for(n_rows)
        truth = {q: {n_rows + i for i in range(N_QUERIES * N_PLANTED)
                     if i % N_QUERIES == q} for q in range(N_QUERIES)}
        rec = {"n_rows": n_rows, "gen_s": gen_s, "wide_planes": wide,
               "modes": {}}

        # mode 1: the 4-plane contract layout at the contract width
        t0 = time.time()
        build_workload_layout(spark, sf_dir, lay_dir,
                              tables=("embeddings",))
        rec["build4_s"] = round(time.time() - t0, 1)
        assert layout_lsh_planes(spark, sf_dir) == 4
        rec["modes"]["layout4"] = run_mode(spark, sf_dir, truth, 4)
        print(f"n={n_rows} layout4: {rec['modes']['layout4']}", flush=True)

        # mode 2: wide planes, NO matching layout (inline tagging scan;
        # a width-mismatched 4-plane layout would be recomputed anyway
        # — dropping it keeps the mode honest: scan-bound over raw
        # parquet, no layout in the way)
        drop_workload_layout(spark, sf_dir, tables=("embeddings",))
        rec["modes"]["wide_scan"] = run_mode(spark, sf_dir, truth, wide)
        print(f"n={n_rows} wide_scan({wide}): {rec['modes']['wide_scan']}",
              flush=True)

        # mode 3: the layout REBUILT at the wide width
        t0 = time.time()
        build_workload_layout(spark, sf_dir, lay_dir,
                              tables=("embeddings",), lsh_planes=wide)
        rec["build_wide_s"] = round(time.time() - t0, 1)
        assert layout_lsh_planes(spark, sf_dir) == wide
        rec["modes"]["wide_layout"] = run_mode(spark, sf_dir, truth, wide)
        print(f"n={n_rows} wide_layout({wide}): "
              f"{rec['modes']['wide_layout']}", flush=True)

        # mode 4: lifecycle parity at scale — the append → compact → serve cycle on the
        # WIDE layout. TWO ~5% deltas land as new part files, each
        # maintenance call tags its delta at the MANIFEST's pinned
        # width (incremental path), then the SELECTIVE minor
        # compaction (full=False) merges only the accumulated runs —
        # base bucket files are hardlinked, so the cost scales with
        # the appended ~10%, not the corpus — and the served probe
        # must match the fresh-build serve (wall ≈ wide_layout, recall
        # unchanged). Delta rows are isotropic like the base corpus,
        # so truth is unaffected.
        from nyc_taxi_data_engineering_project_spark.catalog import (
            compact_workload_layout,
        )

        n_delta = max(n_rows // 20, 1000)
        append_walls = []
        for d_i in range(2):
            first_delta_id = (n_rows + N_QUERIES * N_PLANTED
                              + d_i * n_delta)
            delta = gen_vectors(spark, n_delta, id_offset=first_delta_id)
            tmp_delta = os.path.join(WORK, f"delta_{n_rows}_{d_i}")
            delta.repartition(4).write.mode("overwrite").parquet(tmp_delta)
            src = os.path.join(sf_dir, "embeddings.parquet")
            for p in os.listdir(tmp_delta):
                if p.endswith(".parquet"):
                    shutil.copy(os.path.join(tmp_delta, p),
                                os.path.join(src, f"delta{d_i}-{p}"))
            shutil.rmtree(tmp_delta, ignore_errors=True)
            t0 = time.time()
            build_workload_layout(spark, sf_dir, lay_dir,
                                  tables=("embeddings",))  # width
            # unstated: the maintenance call must PIN the stored width
            append_walls.append(round(time.time() - t0, 1))
        rec["append_s"] = append_walls[0]
        rec["append_walls"] = append_walls
        assert layout_lsh_planes(spark, sf_dir) == wide
        t0 = time.time()
        res = compact_workload_layout(spark, sf_dir, lay_dir,
                                      tables=("embeddings",), full=False)
        rec["compact_s"] = round(time.time() - t0, 1)
        rec["compact_files"] = list(res["embeddings"])
        rec["compact_mode"] = "minor_selective"
        rec["modes"]["wide_layout_appended_compacted"] = run_mode(
            spark, sf_dir, truth, wide)
        print(f"n={n_rows} wide_layout_appended_compacted({wide}): "
              f"{rec['modes']['wide_layout_appended_compacted']}",
              flush=True)

        drop_workload_layout(spark, sf_dir, tables=("embeddings",))
        out["corpora"].append(rec)
        _write_artifact(out)  # incremental: a later-tier OOM must not
        # lose this tier's measurements
        shutil.rmtree(sf_dir, ignore_errors=True)
        shutil.rmtree(lay_dir, ignore_errors=True)

    print(json.dumps(out), flush=True)
    spark.stop()


def _write_artifact(out: dict) -> None:
    out["claim"] = ("wide_layout (stored wide-plane assignment, DPP "
                    "pruned) must beat BOTH layout4 (linear probed "
                    "pairs) and wide_scan (per-run tagging scan), at "
                    "recall_at_5 >= 0.9")
    art = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "stress100_results", "wide_plane_layout.json")
    prev: dict = {}
    try:
        with open(art) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        pass
    seen = {c["n_rows"] for c in out["corpora"]}
    merged = [c for c in prev.get("corpora", [])
              if c["n_rows"] not in seen] + out["corpora"]
    final = {**out, "corpora": sorted(merged, key=lambda c: c["n_rows"])}
    with open(art, "w") as f:
        json.dump(final, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
