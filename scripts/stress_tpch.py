"""100x scale-up of the RELATIONAL core: all 22 TPC-H keys + the
flagship, on a referentially-consistent replica corpus, each
value-checked against DuckDB on the same parquet.

Why a separate harness from stress100.py: that workdir replicates only
the fact/LLM tables (orders/lineitem/events/documents/embeddings), so
replica i > 0 orders reference customers that do not exist — fine for
the skew probes it serves, but it breaks TPC-H referential integrity
(inner joins silently drop every replica and the "100x" run would
measure 1x of work). Here ALL keyed tables replicate with CONSISTENT
shifts — customer/supplier/part get the same +i*SHIFT their foreign
keys get in orders/lineitem — while nation/region stay fixed (the
realistic shape: dims that small stay small at any scale, and they are
the broadcast sides the plans rely on). Result at K=100 over sf0.1:
~60 M lineitem, ~15 M orders, ~1.5 M customer, ~2 M part, ~100 k
supplier — TPC-H at roughly SF 10.

Replication is ONE pass per table via explode(sequence(0, K-1)) — a
map-only plan, no K-way union.

Correctness at scale: every key's registered DuckDB oracle runs on the
SAME workdir parquet and ``enginebench/oracle.matches`` classifies each
key as
  exact    — canonicalized values identical (the drive_contract bar)
  quantum  — numeric columns differ by at most one rounding quantum of
             the key's fround'ed output (the documented residual
             float-sum class, fx.py: double accumulation order is
             engine-specific; at 60 M rows a sum near a .xx5 boundary
             can legitimately round apart)
  MISMATCH — anything else (a real bug)
Schema and row counts must always match exactly.

Run:  python scripts/stress_tpch.py [K] [workdir]
Emits one JSON line per key and a trailing summary for SCALE.md;
per_row_vs_sf01 = secs / (K * bench_detail_secs_at_sf0.1).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from bench import tag_task_metrics  # noqa: E402
from enginebench import oracle  # noqa: E402
from nyc_taxi_data_engineering_project_spark import catalog, fx, registry  # noqa: E402
from nyc_taxi_data_engineering_project_spark.session import get_session  # noqa: E402

def _argv_int(i: int, default: int) -> int:
    """argv parse that tolerates import under a test runner (pytest's
    argv[1] is a test path, not a K)."""
    try:
        return int(sys.argv[i])
    except (IndexError, ValueError):
        return default


K = _argv_int(1, 100)
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_CLI = len(sys.argv) > 1 and sys.argv[1].isdigit()  # ran as the CLI tool
WORK = sys.argv[2] if _CLI and len(sys.argv) > 2 else "/tmp/stress_tpch100"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SHIFT = 100_000_000

# every keyed table shifts ALL its key columns (primary and foreign) by
# the same i*SHIFT, so joins hold within each replica; nation/region
# keys are NOT shifted anywhere, so the fixed dims serve all replicas.
_REKEY: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
}
_FIXED = ["region", "nation"]

KEYS = ["flagship_daily_region_revenue"] + [f"tpch_q{i}" for i in
                                            range(1, 23)]
# comma-separated subset for long-haul probes (e.g. K=1000, where the
# full battery would take hours): SPARK_GRAFT_TPCH_KEYS=tpch_q1,tpch_q21
if os.environ.get("SPARK_GRAFT_TPCH_KEYS"):
    KEYS = [k for k in os.environ["SPARK_GRAFT_TPCH_KEYS"].split(",") if k]


def materialize(spark) -> None:
    t0 = time.time()
    os.makedirs(WORK, exist_ok=True)
    for name in _FIXED:
        shutil.copy(f"{SRC}/{name}.parquet", f"{WORK}/{name}.parquet")
    for name, keys in _REKEY.items():
        df = catalog.table(spark, SRC, name)
        df = df.withColumn(
            "_i", F.explode(F.sequence(F.lit(0), F.lit(K - 1)))
        )
        for kcol in keys:
            df = df.withColumn(kcol, F.col(kcol) + F.col("_i") * _SHIFT)
        df.drop("_i").write.mode("overwrite").parquet(
            f"{WORK}/{name}.parquet")
    print(f"materialized {K}x in {time.time()-t0:.0f}s -> {WORK}",
          flush=True)


# Order-insensitive IN-ENGINE value hash for keys whose verified result
# is too large to canonicalize driver-side (q18 at K=1000 is ~15 M
# rows; the driver compare, not the Spark plan, was the bottleneck —
# SCALE.md §13b). Both engines aggregate SUM(md5-56bit(row-string)) +
# COUNT(*) over the SAME canonical row rendering, so no result row ever
# leaves the engine (the CORRECTNESS recipe: cross-engine md5, floats
# integerized at their own quantum so no float-to-string rendering is
# ever compared). Summing 56-bit values over 10^8 rows needs exact wide
# arithmetic: DECIMAL(38,0) in Spark, HUGEINT in DuckDB. NB concat_ws
# skips NULLs — only safe because these keys' outputs are null-free
# (inner-join group keys + aggregates over them).
# Keys whose results are large enough to need the hashed path. The row
# expression is DERIVED from the key's Spark result schema plus its
# oracle-parsed per-column quanta (auto_hashed_row) — floats are
# integerized at their own fround scale (canon-default 1e-6 for
# unrounded), ints/strings/dates render identically in both engines,
# NULLs become an explicit marker (concat_ws would silently skip them
# and let different rows collide).
HASHED_KEYS = {"tpch_q18"}
# hashed mode kicks in at K >= this (driver-side canonical compare is
# the STRONGER check — keep it wherever it is feasible)
HASH_MIN_K = int(os.environ.get("SPARK_GRAFT_TPCH_HASH_MIN_K", "500"))


def auto_hashed_row(schema, oracle_sql: str) -> str:
    """Canonical row-string SQL: fx.hashed_row_sql with the quanta
    parsed from the key's oracle."""
    return fx.hashed_row_sql(schema, fx.column_quanta(oracle_sql))


def hashed_compare(spark, con, key: str, sdf_builder) -> dict:
    """Run the Spark query and its oracle with the whole comparison
    reduced in-engine to (row count, order-insensitive 56-bit-md5 sum)
    via the fx digest functions. Returns a result record shaped like
    the driver-compare path's."""
    sdf = sdf_builder()
    quanta = fx.column_quanta(registry.ORACLES[key])
    t0 = time.time()
    n_s, h_s = fx.hashed_result_digest(sdf, quanta)
    secs = round(time.time() - t0, 2)
    t0 = time.time()
    orow = con.sql(fx.sql_hashed_digest(
        registry.ORACLES[key],
        fx.hashed_row_sql(sdf.schema, quanta))).fetchone()
    osecs = round(time.time() - t0, 2)
    n_o, h_o = int(orow[0]), (None if orow[1] is None else int(orow[1]))
    if n_s != n_o:
        status, note = "MISMATCH", f"rowcount {n_s} vs {n_o}"
    elif h_s != h_o:
        status, note = "MISMATCH", f"value-hash {h_s} vs {h_o}"
    else:
        status, note = "exact", "hashed in-engine compare (no driver rows)"
    return {"secs": secs, "reps": [secs], "rows": n_s, "duck_secs": osecs,
            "match": status, "note": note, "mode": "hashed"}


def _only_keys() -> list[str] | None:
    """Child-mode key restriction: ``--key k1,k2`` runs only those."""
    if "--key" in sys.argv:
        return sys.argv[sys.argv.index("--key") + 1].split(",")
    return None


def _out_path() -> str | None:
    if "--out" in sys.argv:
        return sys.argv[sys.argv.index("--out") + 1]
    return None


def battery_main() -> None:
    """Fresh-JVM-per-query is the ENFORCED battery posture. With ONE
    JVM carrying all 23 queries, a K=1000 battery OOMs q5 at the heap
    rule's 22 g: the rule is per-query honest but battery-dishonest,
    because accumulated JVM state (broadcast refs, codegen caches,
    shuffle bookkeeping from 22 prior queries) eats the margin the rule
    sizes for a single plan. Rather than inflate the rule with an
    accumulated-state fudge factor (which would also over-size every
    real EXECUTOR, where one JVM never serially owns a whole battery),
    the harness runs each key in its OWN subprocess whose heap is
    the rule's OWN number — the same posture cpu_soak.py uses for the
    board, and the fresh-JVM A/B that BASELINE.md names as the honest
    K-tier wall read (accumulated state swings per-key wall up to
    ~2×). Single-JVM mode stays available for A/B via
    SPARK_GRAFT_TPCH_ONE_JVM=1. Each child runs its key + DuckDB
    oracle + event-log metric triple; the parent materializes the
    corpus once, fans out, and merges the summary."""
    if not os.path.exists(f"{WORK}/lineitem.parquet"):
        rc = subprocess.call(
            [sys.executable, os.path.abspath(__file__), str(K), WORK,
             "--materialize-only"])
        if rc != 0:
            print("materialization failed", file=sys.stderr)
            sys.exit(rc)
    else:
        print(f"reusing {WORK}", flush=True)

    from nyc_taxi_data_engineering_project_spark.session import (
        driver_memory_for,
    )

    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory_for(WORK)
    print(f"battery posture: fresh JVM per query at {mem} "
          f"(engine rule driver_memory_for — per-query honest by "
          f"construction; SPARK_GRAFT_TPCH_ONE_JVM=1 for the "
          f"accumulated-state A/B)", flush=True)
    results: dict[str, dict] = {}
    t_batt = time.time()
    for key in KEYS:
        out = os.path.join(WORK, f".result_{key}.json")
        if os.path.exists(out):
            os.remove(out)
        env = dict(os.environ)
        env["SPARK_GRAFT_DRIVER_MEM"] = mem
        env["SPARK_GRAFT_TPCH_ONE_JVM"] = "1"  # child runs in-process
        rc = subprocess.call(
            [sys.executable, os.path.abspath(__file__), str(K), WORK,
             "--key", key, "--out", out], env=env)
        if os.path.exists(out):
            with open(out) as fh:
                results.update(json.load(fh))
            os.remove(out)
        elif rc != 0:
            results[key] = {"secs": -1.0,
                            "err": f"child JVM exited {rc} with no result"}
            print(f"  {key}: CHILD ERROR exit {rc}", flush=True)
    write_summary(results, extra={
        "battery_posture": "fresh_jvm_per_query",
        "per_query_heap": mem,
        "battery_wall_s": round(time.time() - t_batt, 1),
    })


def main() -> None:
    only = _only_keys()
    if ("--materialize-only" not in sys.argv and only is None
            and os.environ.get("SPARK_GRAFT_TPCH_ONE_JVM") != "1"):
        battery_main()
        return
    # driver-heap sizing: the engine owns the rule
    # (session.driver_memory_for — 2× input bytes, [8g, 64g]).
    # When the corpus already exists its real bytes drive the floor;
    # before materialization, estimate from K at the measured ~11 MB
    # of parquet per K unit (K=1000 ≈ 11 GB).
    from nyc_taxi_data_engineering_project_spark.session import (
        driver_memory_for,
    )

    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        est = (WORK if os.path.exists(f"{WORK}/lineitem.parquet")
               else K * (11 << 20))
        mem = driver_memory_for(est)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
        print(f"driver memory defaulted to {mem} "
              f"(engine rule driver_memory_for; set "
              f"SPARK_GRAFT_DRIVER_MEM to override)", flush=True)
    # the battery records {wall, task_cpu_s, shuffle_bytes,
    # python_worker_s} per key from the event log, exactly like bench.py
    import tempfile

    evlog = tempfile.mkdtemp(prefix="stress_tpch_ev_")
    spark = get_session(extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{evlog}",
        "spark.eventLog.compress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_all()
    if not os.path.exists(f"{WORK}/lineitem.parquet"):
        materialize(spark)
    else:
        print(f"reusing {WORK}", flush=True)
    if "--materialize-only" in sys.argv:
        spark.stop()
        return
    # SCALE.md §2/§13: initial shuffle partitions are sized from the
    # INPUT BYTES so a partition fits executor memory (the session
    # default, sized for sf0.1, is ~19M rows/partition at K=1000 and
    # OOMs stage-level hash aggregates exactly as the sizing rule
    # predicts). This is now the engine's own heuristic
    # (session.shuffle_partitions_for — ~32 MB parquet per partition,
    # AQE coalesces the overshoot), not a harness-side K formula; the
    # env override remains for probing other settings.
    from nyc_taxi_data_engineering_project_spark.session import (
        shuffle_partitions_for,
    )

    n_shuffle = int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        str(shuffle_partitions_for(WORK))))
    spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
    print(f"shuffle partitions: {n_shuffle} (input-bytes heuristic)",
          flush=True)
    # the companion AQE skew gates from the same walk (what a
    # get_session(sf_dir=WORK) session would derive; set at runtime
    # here because this harness reuses one session across corpora)
    from nyc_taxi_data_engineering_project_spark.session import (
        aqe_skew_conf_for,
    )

    for _k, _v in aqe_skew_conf_for(WORK).items():
        spark.conf.set(_k, _v)

    con = duckdb.connect()
    for name in list(_REKEY) + _FIXED:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{WORK}/{name}.parquet/*.parquet')"
            if os.path.isdir(f"{WORK}/{name}.parquet")
            else f"CREATE VIEW {name} AS SELECT * FROM "
                 f"read_parquet('{WORK}/{name}.parquet')"
        )

    bench = {}
    bd_path = os.path.join(REPO, "BENCH_DETAIL.json")
    if os.path.exists(bd_path):
        with open(bd_path) as fh:
            b = json.load(fh)
        bench = b.get("queries", b)

    results: dict[str, dict] = {}
    windows: dict[str, tuple[float, float]] = {}
    reps_run: dict[str, int] = {}

    def _tag(key: str, rep: int):
        spark.sparkContext.setJobGroup(f"{key}::rep{rep}", key)
        return time.time() * 1000.0

    def _untag(key: str, rep: int, w0: float) -> None:
        windows[f"{key}::rep{rep}"] = (w0, time.time() * 1000.0)
        reps_run[key] = max(reps_run.get(key, 0), rep + 1)
        spark.sparkContext.setJobGroup("stress-untagged", "")

    for key in (only or KEYS):
        if ((key in HASHED_KEYS
             or key in os.environ.get("SPARK_GRAFT_TPCH_HASH_KEYS",
                                      "").split(","))
                and K >= HASH_MIN_K):
            w0 = _tag(key, 0)
            try:
                r = hashed_compare(
                    spark, con, key,
                    lambda k=key: registry.QUERIES[k](spark, WORK))
            except Exception as exc:  # noqa: BLE001
                results[key] = {"secs": -1.0, "err": str(exc)[:200]}
                print(f"  {key}: SPARK ERROR {exc}", flush=True)
                continue
            finally:
                _untag(key, 0, w0)
            if key in bench and bench[key] > 0:
                r["per_row_vs_sf01"] = round(r["secs"] / (K * bench[key]), 3)
            results[key] = r
            print(f"  {key}: {r['match']} {r['rows']} rows (hashed), "
                  f"spark {r['secs']}s, duck {r['duck_secs']}s "
                  f"[{r['note']}]", flush=True)
            continue
        secs = []
        sdf = None
        try:
            for rep in range(
                    int(os.environ.get("SPARK_GRAFT_TPCH_REPS", "2"))):
                w0 = _tag(key, rep)
                try:
                    t0 = time.time()
                    sdf = registry.QUERIES[key](spark, WORK).toPandas()
                    secs.append(round(time.time() - t0, 2))
                finally:
                    _untag(key, rep, w0)
        except Exception as exc:  # noqa: BLE001
            results[key] = {"secs": -1.0, "err": str(exc)[:200]}
            print(f"  {key}: SPARK ERROR {exc}", flush=True)
            continue
        t0 = time.time()
        odf = con.sql(registry.ORACLES[key]).df()
        osecs = round(time.time() - t0, 2)
        ok, note = oracle.matches(sdf, odf, registry.ORACLES[key])
        status = ("quantum" if note else "exact") if ok else "MISMATCH"
        r = {"secs": min(secs), "reps": secs, "rows": len(sdf),
             "duck_secs": osecs, "match": status}
        if note:
            r["note"] = note
        if key in bench and bench[key] > 0:
            r["per_row_vs_sf01"] = round(min(secs) / (K * bench[key]), 3)
        results[key] = r
        print(f"  {key}: {status} {len(sdf)} rows, spark {min(secs)}s "
              f"{secs}, duck {osecs}s"
              + (f" [{note}]" if note else ""), flush=True)

    # flush + parse the event log into the per-key noise-immune triple
    # (bench.py's recipe: min-CPU rep, windows fold untagged jobs)
    spark.stop()
    try:
        by_group = tag_task_metrics(evlog, windows)
        for key, n in reps_run.items():
            per_rep = [by_group[f"{key}::rep{r}"] for r in range(n)
                       if f"{key}::rep{r}" in by_group]
            if not per_rep or key not in results:
                continue
            pick = min(per_rep, key=lambda d: (d["task_cpu_s"]
                                               + d["python_worker_s"]))
            results[key]["task_cpu_s"] = round(pick["task_cpu_s"], 3)
            results[key]["shuffle_bytes"] = int(
                pick["shuffle_write_bytes"])
            results[key]["python_worker_s"] = round(
                pick["python_worker_s"], 3)
    except Exception as exc:  # noqa: BLE001
        print(f"# METRICS PARSE ERROR: {exc}", file=sys.stderr)
    finally:
        shutil.rmtree(evlog, ignore_errors=True)

    out = _out_path()
    if out is not None:  # battery child: hand results to the parent
        with open(out, "w") as fh:
            json.dump(results, fh)
        n_bad = sum(1 for r in results.values()
                    if r.get("match") not in ("exact", "quantum"))
        if n_bad:
            sys.exit(1)
        return
    write_summary(results)


def write_summary(results: dict[str, dict],
                  extra: dict | None = None) -> None:
    n_exact = sum(1 for r in results.values() if r.get("match") == "exact")
    n_quant = sum(1 for r in results.values() if r.get("match") == "quantum")
    n_bad = len(results) - n_exact - n_quant
    summary = {"K": K, "src": SRC, "n_keys": len(results),
               "exact": n_exact, "quantum": n_quant, "bad": n_bad,
               **(extra or {}), "results": results}
    art = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "stress100_results", f"stress_tpch_K{K}.json")
    try:
        with open(art, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:
        print(f"# ARTIFACT WRITE ERROR: {exc}", file=sys.stderr)
    print(json.dumps(summary), flush=True)
    if n_bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
