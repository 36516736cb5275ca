"""Bucketed-table layout (io.write_bucketed): the persisted pre-shuffle.

Proves the scale claim, not just the result: joining two tables bucketed
on the same key with the same bucket count must plan WITHOUT a shuffle
exchange on either side, and must return the same rows as the plain join.
"""

from __future__ import annotations

import contextlib
import io as _io
import os

from conftest import SF_DIR
from nyc_taxi_data_engineering_project_spark.io import write_bucketed


def _plan(df) -> str:
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))

    tmp = str(tmp_path)
    write_bucketed(orders, "b_orders", "o_orderkey", buckets=8,
                   path=os.path.join(tmp, "o"))
    write_bucketed(lineitem, "b_lineitem", "l_orderkey", buckets=8,
                   path=os.path.join(tmp, "l"))
    try:
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        # at test SF the planner would rather broadcast the tiny side
        # (and rightly so); the merge hint forces the strategy that
        # exists at scale, where neither fact fits in a broadcast
        joined = bo.hint("merge").join(bl, bo.o_orderkey == bl.l_orderkey)

        plan = _plan(joined)
        assert "Exchange" not in plan, f"bucketed join shuffled:\n{plan}"
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan

        # same answer as the unbucketed join
        expected = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        ).count()
        assert joined.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_aggregation_is_shuffle_free(spark, tmp_path):
    """A groupBy on the bucket key also reuses the layout: no exchange.

    tmp_path (not mkdtemp) so the external tables' data is cleaned up —
    DROP TABLE removes only catalog metadata for path-backed tables."""
    lineitem = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    tmp = str(tmp_path)
    write_bucketed(lineitem, "b_li_agg", "l_orderkey", buckets=8,
                   path=os.path.join(tmp, "l"))
    try:
        agg = spark.table("b_li_agg").groupBy("l_orderkey").count()
        plan = _plan(agg)
        assert "Exchange" not in plan, f"bucketed agg shuffled:\n{plan}"
        assert agg.count() == lineitem.select("l_orderkey").distinct().count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_li_agg")


def test_bucketed_superset_key_aggregation_is_shuffle_free(spark, tmp_path):
    """The q21-layout property (SCALE.md §13c): a group-by on a
    SUPERSET of the bucket key — (l_orderkey, l_suppkey) over a table
    bucketed on l_orderkey alone — needs no Exchange, because equal
    orderkeys already share a bucket and the grouping only subdivides
    within it (Spark satisfies ClusteredDistribution(a, b) from
    HashPartitioning(a))."""
    lineitem = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    write_bucketed(lineitem, "b_li_super", "l_orderkey", buckets=8,
                   path=os.path.join(str(tmp_path), "l"))
    try:
        agg = (spark.table("b_li_super")
               .groupBy("l_orderkey", "l_suppkey").count())
        plan = _plan(agg)
        assert "Exchange" not in plan, f"superset-key agg shuffled:\n{plan}"
        expected = (lineitem.select("l_orderkey", "l_suppkey")
                    .distinct().count())
        assert agg.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS b_li_super")
