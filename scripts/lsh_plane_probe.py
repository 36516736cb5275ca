"""LSH plane-count scale rule (closes SCALE.md §18b's honest negative).

At the oracle-pinned 4 planes, f3_lsh_ann probes 5 of 16 buckets, so
candidate pairs per query = corpus·5/16 — LINEAR in corpus size: the
bucketed join stays shuffle-partitionable but the per-query work grows
with the data. The lever is the plane count: ``llm.lsh_ann_topk(spark,
sf_dir, n)`` signs against the first n planes of the seeded
``LSH_PLANES`` stream, n planes → 2^n buckets, Hamming-1 multi-probe
widens to n+1 probes, so holding the EXPECTED bucket width constant
(n = log2(corpus/target)) makes probed candidates ≈ (n+1)·target —
logarithmic growth.

What this probe measures, per (corpus size, plane count):

- **recall@5 against the planted ground truth**: each of the 20 query
  vectors gets 8 planted near-neighbors (small deterministic
  perturbations, cosine ≈ 0.99) — the workload an ANN index exists
  for. Isotropic-noise top-5 is NOT the metric (random vectors'
  "nearest" neighbors are meaningless; the registered key's own
  recall gate on the isotropic testdata is 0.25 for that reason).
- **probed candidate pairs per query** (the linear-vs-log claim).
- **wall time** of the full ANN query (tag + probe join + top-k),
  i.e. ``lsh_ann_topk`` itself with buckets computed inline (no
  layout registered).

Corpus generation is fully deterministic (xxhash64-derived uniforms,
seeded perturbations) — no RNG state, so reruns are identical.

Run: python scripts/lsh_plane_probe.py [n_rows ...]
     (default: 3160000 9800000 — the K=316 / K=1000 embedding tiers)
Artifact: scripts/stress100_results/lsh_plane_rule.json
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F  # noqa: E402

from nyc_taxi_data_engineering_project_spark.queries.llm import (  # noqa: E402
    _embeddings,
    lsh_ann_topk,
    lsh_planes_for,
)
from nyc_taxi_data_engineering_project_spark.session import get_session  # noqa: E402

SIZES = [int(a) for a in sys.argv[1:]] or [3_160_000, 9_800_000]
N_QUERIES = 20
N_PLANTED = 8
PLANE_COUNTS = (4, 6, 8, 10)
WORK = os.environ.get("SPARK_GRAFT_LSH_PROBE_DIR",
                      "/tmp/spark_graft_lsh_probe")


def gen_corpus(spark, n_rows: int, path: str) -> None:
    """n_rows isotropic vectors + 8 planted near-neighbors per query
    vector (ids n_rows..n_rows+160). Deterministic: dim d of row i is
    xxhash64(i·64+d)-derived uniform(-1,1); planted copy j of query q
    perturbs every dim by a hash-derived ±0.02."""
    base = spark.range(n_rows).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.xxhash64(F.col("id") * 64 + F.lit(d)) % 1_000_001)
            .cast("double") / 500_000.0
            for d in range(64)
        ]).alias("embedding"),
    )
    planted = spark.range(N_QUERIES * N_PLANTED).select(
        (F.lit(n_rows) + F.col("id")).alias("vec_id"),
        (F.col("id") % N_QUERIES).alias("_q"),
        F.col("id").alias("_j"),
    ).select(
        "vec_id",
        F.array(*[
            (F.xxhash64(F.col("_q") * 64 + F.lit(d)) % 1_000_001)
            .cast("double") / 500_000.0
            + (F.pmod(F.xxhash64(F.col("_j") * 64 + F.lit(d) + 7_777_777),
                      F.lit(41))).cast("double") / 1000.0 - 0.02
            for d in range(64)
        ]).alias("embedding"),
    )
    (base.unionByName(planted)
     .withColumn("label", F.lit("x"))
     .repartition(64)
     .write.mode("overwrite").parquet(path))


def probed_pairs(spark, sf_dir: str, n_planes: int) -> int:
    """Candidate pairs the ``n_planes``-wide probe join emits (the
    linear-vs-log claim): each query's n+1 probed buckets joined to the
    corpus on bucket id, self-pairs dropped."""
    tagged = _embeddings(spark, sf_dir, n_planes=n_planes)
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i))
          for i in range(n_planes)],
    )
    q = (tagged.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.explode(probes).alias("bucket")))
    c = tagged.select(F.col("vec_id").alias("neighbor_id"), "bucket")
    return (q.join(c, ["bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id")).count())


def main() -> None:
    spark = get_session("lsh-plane-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"n_queries": N_QUERIES, "n_planted": N_PLANTED,
           "corpora": []}
    for n_rows in SIZES:
        sf_dir = os.path.join(WORK, f"emb_{n_rows}")
        t0 = time.time()
        gen_corpus(spark, n_rows, os.path.join(sf_dir, "embeddings.parquet"))
        gen_s = round(time.time() - t0, 1)
        total = _embeddings(spark, sf_dir).count()

        # ground truth: the planted neighbors of each query (by
        # construction the nearest — cosine ≈ 0.998 vs ≈0.5 isotropic
        # background), exact top-5 ⊂ the 8 planted
        truth = {q: {n_rows + i for i in range(N_QUERIES * N_PLANTED)
                     if i % N_QUERIES == q} for q in range(N_QUERIES)}

        rec = {"n_rows": total, "gen_s": gen_s, "planes": {}}
        for n_planes in PLANE_COUNTS:
            t0 = time.time()
            got = lsh_ann_topk(spark, sf_dir, n_planes).collect()
            wall = round(time.time() - t0, 2)
            n_pairs = probed_pairs(spark, sf_dir, n_planes)
            by_q: dict[int, set] = {}
            for r in got:
                by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
            recalls = [
                len(by_q.get(q, set()) & truth[q]) / 5.0
                for q in range(N_QUERIES)
            ]
            recall = round(sum(recalls) / len(recalls), 3)
            rec["planes"][n_planes] = {
                "recall_at_5": recall,
                "pairs_per_query": n_pairs // N_QUERIES,
                "ann_wall_s": wall,
                "buckets": 1 << n_planes,
                "probes": n_planes + 1,
            }
            print(f"n={total} planes={n_planes}: recall={recall} "
                  f"pairs/q={n_pairs // N_QUERIES} wall={wall}s",
                  flush=True)
        rec["rule_says"] = lsh_planes_for(total)
        out["corpora"].append(rec)
        shutil.rmtree(sf_dir, ignore_errors=True)
        _write_artifact(out)  # incremental: an OOM later must not
        # lose this corpus's measurements

    print(json.dumps(out), flush=True)
    spark.stop()


def _write_artifact(out: dict) -> None:
    out["rule"] = ("n_planes = clamp(round(log2(corpus/2000)), 4, 16) "
                   "— hold expected bucket width ~2000 "
                   "(llm.lsh_planes_for)")
    art = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "stress100_results", "lsh_plane_rule.json")
    prev: dict = {}
    try:
        with open(art) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        pass
    seen = {c["n_rows"] for c in out["corpora"]}
    merged = [c for c in prev.get("corpora", [])
              if c["n_rows"] not in seen] + out["corpora"]
    out = {**out, "corpora": sorted(merged, key=lambda c: c["n_rows"])}
    with open(art, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
