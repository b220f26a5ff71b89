"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (reference pipeline shape:
validate -> broadcast exact join -> band routing -> rollup) at sf0.001.
``queries()`` / ``oracle_sql()`` expose the full operator inventory from
SURVEY.md §2 with DuckDB oracle twins (see
``pyp_etl_pipeline_spark/driver_queries*.py``).

The harness may run with a cwd outside this repo, so Python workers
cannot import the package from the driver's path. Every operator whose
worker-side code imports it ships the package first through
``session.ship_package`` (``addPyFile`` of a zip, once per
SparkContext); ``_ensure_workers_can_import`` is that function under
the name benchmark and tool scripts call.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyp_etl_pipeline_spark import driver_queries_ext as _reg  # noqa: E402
from pyp_etl_pipeline_spark.session import ship_package as _ensure_workers_can_import  # noqa: E402, F401


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _reg.core.flagship_band_rollup(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _reg.queries()


def oracle_sql() -> dict[str, str]:
    return _reg.oracle_sql()
