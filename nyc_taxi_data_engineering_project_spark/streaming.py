"""Structured Streaming surface (SURVEY.md §2 group D).

The reference has no streaming; its nearest analog is the chunked
micro-batch ingest loop (``python/ingest_data.py:173-181``) plus
restart-on-failure (``terraform/main.tf:149-165``). Structured Streaming
is the engine-native generalization: the same DataFrame plan, executed
incrementally with state, watermarks, and exactly-once sinks.

Test harness: the parquet ``events`` table replayed as a file-source
stream with an ``availableNow`` trigger — processes all existing data as
a bounded stream then stops, which makes stream results comparable to
batch oracles (SURVEY.md §5.2.5 batch-equivalence)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .catalog import events_ts_is_nanos


def _events_raw_schema(nanos: bool) -> T.StructType:
    # events.ts is parquet timestamp[us] → streamed natively as NTZ
    # (session tz pinned UTC, see session.py). A regenerated
    # TIMESTAMP(NANOS) file is streamed as long then floor-divided to
    # micros — the SAME dispatch as catalog.table, so batch and stream
    # paths can never disagree on the unit.
    ts_type = T.LongType() if nanos else T.TimestampNTZType()
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_type),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: file-source stream over the events table.

    Layout dispatch: ``events.parquet`` may be a single FILE (the
    driver testdata) or a DIRECTORY of part files (any Spark-written
    copy, e.g. scripts/stress.py replicas). The file source requires a
    directory basePath, so a single file streams via its parent dir + a
    leaf-name glob — but that same glob silently matches ZERO part
    files under a directory layout (the streaming keys would run
    instantly on empty streams), so a directory streams directly."""
    path = os.path.join(sf_dir, "events.parquet")
    nanos = events_ts_is_nanos(path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(_events_raw_schema(nanos))
    if os.path.isdir(path):
        raw = reader.parquet(path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    if nanos:
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    # watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on
    # NTZ); under the UTC-pinned session the cast is wall-clock identity
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _replay_checkpoint_root() -> str | None:
    """Ephemeral checkpoint root for the bounded replay: RAM-backed
    when the host offers /dev/shm, else None (Spark's temp default).

    The memory-sink replay is already non-durable by construction —
    its checkpoint exists only to drive the offset/commit protocol
    within one process — so placing it on tmpfs removes per-batch
    fsync/disk latency without weakening any durability the harness
    ever had. Production sinks whose OUTPUT outlives the call (D10's
    read-back parquet) keep their trees on real disk, and the
    crash/replay recovery semantics are asserted on durable dirs in
    tests/test_streaming.py / tests/test_stream_layout.py.
    ``SPARK_GRAFT_REPLAY_CKPT_DIR`` overrides; set it to a durable
    path to opt out."""
    override = os.environ.get("SPARK_GRAFT_REPLAY_CKPT_DIR")
    if override:
        return override
    return "/dev/shm" if os.path.isdir("/dev/shm") else None


def ephemeral_scratch_dir(prefix: str) -> str:
    """mkdtemp for scratch trees that are CREATED AND DELETED within a
    single query call (d14's feed/source/layout/checkpoint): RAM-backed
    when the host offers /dev/shm (``SPARK_GRAFT_SCRATCH_DIR``
    overrides, e.g. to a durable path), else the system temp default.

    Durability of a tree that the same call removes in its ``finally``
    buys nothing, so tmpfs placement changes latency only (d14
    fresh-session steady total measured 8.1 s on /tmp-on-disk → 4.6 s
    on /dev/shm; the bucketed saveAsTable commits dominate). Callers
    whose output must OUTLIVE the call (d10's sink parquet, which the
    returned DataFrame reads lazily) must NOT use this — an uncleaned
    tmpfs tree would accumulate in RAM instead of on disk.

    SIZE caveat, not just lifetime: the scratch tree
    lives in RAM for the duration of the call — d14 materializes a
    full feed copy + source + bucketed layout there, so at
    larger-than-bench scale that is ~3× the table's bytes of tmpfs.
    Callers staging more data than free RAM comfortably holds must
    point ``SPARK_GRAFT_SCRATCH_DIR`` at real disk; tmpfs exhaustion
    surfaces as a confusing no-space-left write error, not an OOM."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if not root:
        root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    import tempfile

    return tempfile.mkdtemp(prefix=prefix, dir=root)


def run_available_now(sdf: DataFrame, name: str,
                      output_mode: str = "append",
                      state_partitions: int = 2) -> DataFrame:
    """Execute a streaming DataFrame to completion over existing input
    (availableNow trigger → memory sink) and return the materialized
    result table. This is the bounded-replay harness; production sinks
    use ``foreachBatch``/parquet with checkpoints (D10).

    ``state_partitions`` is the state-store partition count. Each state
    partition costs a store load+commit (+ for pandas state ops, a
    Python worker round) PER micro-batch — fixed overhead that dwarfs
    the per-row work at replay scale, where the whole state is a few
    thousand keys, so the default is 2 (on d2 at sf0.1, 8 → 2
    partitions halves the micro-batch wall with byte-identical output).
    Ops whose per-partition work is COMPUTE, not state bookkeeping
    (d8's pandas state function), pass a larger count."""
    import shutil
    import tempfile

    spark = sdf.sparkSession
    # state-store partition count is frozen from shuffle.partitions at
    # query start and AQE does not apply to streaming state — pin it to
    # the replay bound, then restore the session value.
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    ckpt_root = _replay_checkpoint_root()
    ckpt = tempfile.mkdtemp(prefix=f"replay_{name}_", dir=ckpt_root) \
        if ckpt_root else None
    try:
        writer = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        if ckpt:
            writer = writer.option("checkpointLocation", ckpt)
        q = writer.start()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        if ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def epoch_overwrite_writer(target: str):
    """The D10 sink's per-batch function: write each epoch to its own
    directory with deterministic overwrite, so a REPLAYED epoch (crash
    between sink write and checkpoint commit) converges instead of
    duplicating — the reference's delete-before-insert A10 pattern
    (``python/ingest_data.py:160-166``), generalized to streams.
    Module-level so the crash-recovery test injects failures around the
    exact production writer, not a copy of it."""

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("_epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .parquet(os.path.join(target, f"epoch={epoch_id}"))
        )

    return write_epoch


def drain_available_now(sdf: DataFrame, batch_fn, checkpoint: str) -> None:
    """Run ``batch_fn(batch_df, batch_id)`` over every micro-batch of the
    input available now, then return: ``foreachBatch`` + checkpoint
    (source offset tracking) + ``availableNow`` trigger. Exactly-once
    needs ``batch_fn`` to be idempotent under replay of its last batch;
    every stored product's maintainer drains through here."""
    (sdf.writeStream.foreachBatch(batch_fn)
     .option("checkpointLocation", checkpoint)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def foreach_batch_idempotent_sink(sdf: DataFrame, target: str,
                                  checkpoint: str) -> None:
    """D10: exactly-once file sink — ``foreachBatch`` + checkpoint.
    Exactly-once = source offset tracking (checkpoint) + idempotent
    epoch write (``epoch_overwrite_writer``); either alone gives only
    at-least-once."""
    drain_available_now(sdf, epoch_overwrite_writer(target), checkpoint)
