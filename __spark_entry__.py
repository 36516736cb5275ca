"""The engine's query surface: ``entry``, ``queries`` and ``oracle_sql``.

``entry(spark)`` runs the flagship query on the sf0.001 corpus as a
smoke check and must return rows. ``queries()`` maps every registry
key to its ``(spark, sf_dir) -> DataFrame`` function; ``oracle_sql()``
maps every oracle-checked key to a DuckDB-runnable SQL twin, and the
key's result must match it on row count, column names and
order-insensitive values (``scripts/drive_contract.py`` runs that
check). Each key computes one fixed contract: no environment variable
changes its result.

All real logic lives in the ``nyc_taxi_data_engineering_project_spark``
package; this module only exposes the registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nyc_taxi_data_engineering_project_spark import registry  # noqa: E402

registry.load_all()

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return registry.QUERIES["flagship_daily_region_revenue"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for every oracle-checkable key."""
    return dict(registry.ORACLES)
