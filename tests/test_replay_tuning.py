"""The bounded-replay harness's tuning seams
(streaming.run_available_now): the state-partition default and the
per-query override, and the ephemeral checkpoint root. OPTIMIZATION_r14.md's
streaming section documents the measurements the default encodes
(d2 8→2 parts halves the micro-batch wall). d8 passes a fixed 8
through the per-query override (its compute profile, measured in
OPTIMIZATION_r15.md)."""

from __future__ import annotations

import inspect
import os
import uuid

from pyspark.sql import functions as F

from conftest import SF_DIR
from nyc_taxi_data_engineering_project_spark.streaming import (
    _replay_checkpoint_root,
    events_stream,
    run_available_now,
)


def test_replay_state_partitions_default_and_env():
    """The replay default is 2 state partitions."""
    params = inspect.signature(run_available_now).parameters
    assert params["state_partitions"].default == 2


def test_replay_checkpoint_root_env_and_tmpfs(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_REPLAY_CKPT_DIR", "/tmp/somewhere")
    assert _replay_checkpoint_root() == "/tmp/somewhere"
    monkeypatch.delenv("SPARK_GRAFT_REPLAY_CKPT_DIR", raising=False)
    root = _replay_checkpoint_root()
    # tmpfs when the host offers it, else Spark's temp default (None)
    assert root == ("/dev/shm" if os.path.isdir("/dev/shm") else None)


def test_run_available_now_restores_session_partitions_and_cleans_ckpt(
    spark,
):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    name = f"rt_{uuid.uuid4().hex[:8]}"
    stream = (
        events_stream(spark, SF_DIR)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = run_available_now(stream, name, output_mode="complete")
    assert got.count() > 0
    # session value restored, not left at the replay bound
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
    # ephemeral checkpoint removed (nothing of ours left under the root)
    root = _replay_checkpoint_root()
    if root:
        assert not [
            d for d in os.listdir(root) if d.startswith(f"replay_{name}_")
        ]


def test_run_available_now_state_partitions_override(spark):
    """A per-query override changes the state-partition bound without
    changing the result (d8 passes a fixed 8 through it)."""
    name = f"ro_{uuid.uuid4().hex[:8]}"
    stream = (
        events_stream(spark, SF_DIR)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    got = run_available_now(
        stream, name, output_mode="append",
        state_partitions=spark.sparkContext.defaultParallelism,
    )
    batch = (
        events_stream(spark, SF_DIR).sparkSession.read.parquet(
            os.path.join(SF_DIR, "events.parquet")
        )
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    assert got.count() == batch.count()

