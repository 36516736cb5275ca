"""Multi-consumer pins are ``localCheckpoint``: the pinned frame's plan
scans the materialized RDD instead of re-deriving it from the source."""

from __future__ import annotations

from conftest import SF_DIR


def test_f14_rounds_scan_local_checkpoint(spark):
    """f14's label-propagation loop cuts its lineage each round: the
    result's executed plan reads checkpointed blocks (``ExistingRDD``)
    instead of re-planning f2's pair verification, and no pin leaves a
    session-wide CacheManager entry behind."""
    from nyc_taxi_data_engineering_project_spark.queries.llm import (
        f14_dedup_clusters,
    )

    out = f14_dedup_clusters(spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    assert "array_intersect" not in plan, plan  # f2's Jaccard verify
    assert out.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
