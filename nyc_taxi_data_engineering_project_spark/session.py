"""SparkSession factory.

Replaces the reference's connection bootstrap (engine + readiness retry,
``python/ingest_data.py:206-221``) with a single declarative builder. The
config choices are the engine's scale posture:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — replaces hand-tuned chunk sizes
  (``python/ingest_data.py:44``).
- ``spark.sql.session.timeZone=UTC`` + ANSI off — semantic parity with the
  reference's naive timestamps and coerce-to-null parsing
  (``python/ingest_data.py:128-129``; SURVEY.md §7.4).
- dynamic partition overwrite — idempotent month-window reload semantics
  (``python/ingest_data.py:160-166``) expressed as a write mode.
- shuffle partitions sized from the INPUT BYTES when the caller names
  the data dir (``shuffle_partitions_for``: ~32 MB of parquet per
  initial partition, core-count floor, AQE coalesces the overshoot);
  bare ``get_session()`` keeps the core-count default that fits the
  ≤sf0.1 test tier.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Initial-shuffle-partition sizing: ~32 MB of on-disk parquet per
# partition (≈100-300 MB of in-memory rows after decompression —
# comfortably inside any production executor's per-core share, and the
# ratio the K=1000 probe validated: 11 GB input / 32 MB ≈ 330 initial
# partitions vs the empirically-required 320; the sf0.1 default
# collapses to the core-count floor). Deliberately an OVERESTIMATE at
# the high end — AQE coalesces excess partitions for free at runtime,
# while an underestimate OOMs stage-level hash aggregates (SCALE.md
# §13b finding 2: 32 partitions at K=1000 is ~19 M rows/partition
# through an aggregate and dies). The workload layout's default bucket count
# (catalog._layout_buckets) sizes its buckets against the same target.
_TARGET_PARTITION_BYTES = 32 << 20


def _input_bytes(data: str | int) -> int:
    """Total data bytes: a directory of parquet tables (sizes walked
    on the driver — metadata only) or an explicit byte count."""
    if not isinstance(data, str):
        return int(data)
    total = 0
    for root, _dirs, files in os.walk(data):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def shuffle_partitions_for(data: str | int,
                           cpus: str | int | None = None) -> int:
    """Input-size-derived initial shuffle partition count.

    Floor = the core count (below it, idle cores); ceiling = none
    (AQE coalesces)."""
    return max(int(cpus or DEFAULT_CPUS),
               math.ceil(_input_bytes(data) / _TARGET_PARTITION_BYTES))


# AQE skew-gate sizing (the SCALE.md §17 measured rule as engine code):
# AQE splits a skewed join partition only when it exceeds BOTH 5× the
# median AND skewedPartitionThresholdInBytes. The 256 MB default
# threshold assumes 64 MB-advisory healthy partitions; an engine that
# sizes partitions toward ~32 MB of input leaves even a pathological hot
# partition under 256 MB, so the split SILENTLY never fires and the
# stage runs at straggler speed (measured at 60 M rows / 50% hot: 10.9 s
# with default-gated "AQE on" vs 2.9 s once the byte thresholds were
# scaled — 2× faster than explicit 16-way salting,
# scripts/stress100_results/aqe_vs_salting_60m.json). Rule: advisory =
# half the expected per-partition bytes (the split's target chunk,
# shuffle data being roughly parquet-compressed), threshold = 2×
# advisory — the 5×-median guard still protects healthy variation from
# gratuitous splitting. Floors/caps keep the tiny-SF test tier inside
# sane AQE coalescing behavior.
_ADVISORY_MIN_BYTES = 8 << 20
_ADVISORY_MAX_BYTES = 64 << 20


def aqe_skew_conf_for(data: str | int,
                      cpus: str | int | None = None) -> dict[str, str]:
    """Input-size-derived AQE skew/advisory byte thresholds — the
    companion of :func:`shuffle_partitions_for`, derived from the same
    walk so the skew gate scales with the partition sizing instead of
    sitting at a 256 MB default the partitions never reach."""
    expected = max(1, _input_bytes(data)
                   // shuffle_partitions_for(data, cpus))
    advisory = max(_ADVISORY_MIN_BYTES,
                   min(_ADVISORY_MAX_BYTES, expected // 2))
    return {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            str(advisory),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            str(advisory * 2),
    }


# Local-mode heap sizing: in local[N] the ONE JVM is driver and every
# executor, so its heap must scale with the input like an executor
# fleet's aggregate memory would. Measured points: 8 g green through the
# full board at ≤1.1 GB input (K≤100); 8 g OOM in q5's shuffle and the
# LSH probe at 11 GB input (K=1000); 16 g and 20 g green at 11 GB. Rule:
# heap ≥ 2× the on-disk parquet bytes (decompressed working set per
# stage is 3-8× the column chunks actually touched, spread across stages
# with spilling — 2× of TOTAL bytes covers it with margin at every
# measured tier), clamped to [8 g, 64 g] (floor = the proven small-tier
# default, cap = half the measured host's RAM). On a real CLUSTER the rule
# sizes EXECUTOR memory; driver heap there only needs collect/broadcast
# headroom.
_HEAP_MIN_GB = 8
_HEAP_MAX_GB = 64


def driver_memory_for(data: str | int) -> str:
    """Input-size-derived local-mode JVM heap (e.g. ``'22g'``) — the
    third output of the same input walk that sizes shuffle partitions
    and the AQE skew gate."""
    gb = math.ceil(2 * _input_bytes(data) / (1 << 30))
    return f"{min(_HEAP_MAX_GB, max(_HEAP_MIN_GB, gb))}g"


def get_session(app_name: str = "nyc_taxi_data_engineering_project_spark",
                cpus: str | int | None = None,
                extra_conf: dict | None = None,
                sf_dir: str | None = None) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    Local-mode testing uses ``local[N]``; every setting below is
    cluster-safe (AQE does the runtime right-sizing at scale).
    ``sf_dir`` sizes the initial shuffle-partition count from the input
    bytes (``shuffle_partitions_for``) AND the AQE skew/advisory byte
    gates from the same walk (``aqe_skew_conf_for`` — the measured
    §17 rule: the 256 MB default silently never fires on ~32 MB-sized
    partitions); without it the count defaults to the core count and
    the Spark-default gates stand (right for the ≤sf0.1 bench/test
    tier). ``extra_conf`` is applied last, so an explicit
    ``spark.sql.shuffle.partitions`` or skew gate wins.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    # ONE walk feeds all three input-derived settings (the walk is
    # driver-side metadata over a potentially many-file tree — don't
    # repeat it); without sf_dir the core-count partition default
    # and the Spark-default skew gates stand (right for ≤sf0.1).
    if sf_dir is not None:
        nbytes = _input_bytes(sf_dir)
        n_shuffle = shuffle_partitions_for(nbytes, cpus)
        skew_conf = aqe_skew_conf_for(nbytes, cpus)
        derived_mem = driver_memory_for(nbytes)
    else:
        n_shuffle = int(cpus)
        skew_conf = {}
        derived_mem = None
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # let HotSpot JIT the wide fused methods whole-stage codegen
        # emits for join-consume stages (SCALE.md §19b): the unrolled
        # 64-dim dot fuses into a ~17 KB-bytecode method, past
        # HotSpot's DontCompileHugeMethods threshold (8000), so the
        # stage would run bytecode-INTERPRETED on every execution, a
        # vector-family slowdown. Measured alternatives:
        # spark.sql.codegen.hugeMethodLimit=8000 fixes these stages 3×
        # via per-expression fallback but un-fuses every 8–64 KB stage
        # board-wide (+16 s at sf0.1, rejected); this JVM flag keeps
        # fusion everywhere and compiles the big methods too (1.42 s →
        # 0.45 s on the pair-dot stage). Cluster deployments need it on
        # executors as well — set on both here.
        .config("spark.driver.extraJavaOptions",
                "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions",
                "-XX:-DontCompileHugeMethods")
        # heap precedence: explicit env override > input-derived floor
        # (sf_dir named) > the 8 g small-tier default. Only effective
        # when THIS call launches the JVM — getOrCreate on an existing
        # session cannot resize a running heap (warned below).
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or derived_mem or "8g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in skew_conf.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if derived_mem is not None:
        # the heap was sized by whoever launched the JVM; if it's
        # under this input's derived floor, big shuffles can OOM the
        # way q5 did at K=1000 — say so instead of failing mutely
        # later. Compared on the RETURNED session's conf, not an
        # active-session flag: getActiveSession is thread-scoped, so a
        # secondary thread re-entering the process-wide session would
        # skip a flag-gated check exactly when it matters.
        # When THIS call launched the JVM the conf equals derived_mem
        # and the check is a no-op.
        running_gb, running = _running_heap_gb(spark)
        # maxMemory() excludes one survivor space (~5-10% of -Xmx), so
        # when the estimate came from the JVM rather than the conf, an
        # unmanaged heap sized EXACTLY at the floor must not cry wolf —
        # compare against 0.9× the floor for that branch
        floor_gb = _mem_gb(derived_mem) * (
            0.9 if "maxMemory" in running else 1.0)
        if running_gb < floor_gb:
            print(f"[session] WARNING: running JVM heap {running} is "
                  f"below the derived floor {derived_mem} for "
                  f"{sf_dir}; large shuffles may OOM (restart via "
                  f"get_session(sf_dir=...) before first use, or set "
                  f"SPARK_GRAFT_DRIVER_MEM)", flush=True)
    return spark


def _running_heap_gb(spark) -> tuple[float, str]:
    """The running JVM's heap in GiB, plus a label for the warning.

    Conf first; when the key is ABSENT (a JVM launched outside
    get_session without it) do NOT assume the engine's 8 g floor —
    Spark's actual default heap is 1 g, so an '8g' assumption would
    suppress the undersized-heap warning exactly in the unmanaged-
    session case it targets. Read the REAL heap from
    ``Runtime.maxMemory()``; only if even that is unreachable assume
    Spark's true 1 g default."""
    running = spark.conf.get("spark.driver.memory", None)
    if running is not None:
        return _mem_gb(running), running
    try:
        gb = (spark.sparkContext._jvm.java.lang.Runtime
              .getRuntime().maxMemory() / float(1 << 30))
        return gb, f"{gb:.1f}g (JVM maxMemory)"
    except Exception:
        return 1.0, "1g (Spark default, conf unset)"


def _mem_gb(mem: str) -> float:
    """Parse a JVM memory string ('20g', '512m', '20480') to GiB.
    Spark reads a bare number in spark.driver.memory as MiB ('20480'
    is 20 GiB, not 20 KB), so the suffix-less branch divides by
    1024."""
    mem = mem.strip().lower()
    mult = {"k": 1 / (1 << 20), "m": 1 / 1024, "g": 1, "t": 1024}
    if mem[-1] in mult:
        return float(mem[:-1]) * mult[mem[-1]]
    return float(mem) / 1024
