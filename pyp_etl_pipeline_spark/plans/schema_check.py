"""Required-column validation (P4) — plan-time schema assertion.

Reference semantics (``app/etl.py:533-587``): required columns missing ->
invalid; "important" columns missing -> warn.
Runs before any action so a bad upload never triggers a cluster job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from pyp_etl_pipeline_spark.schema import IMPORTANT_COLUMNS, REQUIRED_COLUMNS


@dataclass
class SchemaCheck:
    is_valid: bool
    missing_required: list[str] = field(default_factory=list)
    missing_important: list[str] = field(default_factory=list)


def validate_required_columns(
    df_or_columns: DataFrame | list[str],
    required: tuple[str, ...] = REQUIRED_COLUMNS,
    important: tuple[str, ...] = IMPORTANT_COLUMNS,
) -> SchemaCheck:
    cols = set(df_or_columns.columns if isinstance(df_or_columns, DataFrame) else df_or_columns)
    missing_required = [c for c in required if c not in cols]
    missing_important = [c for c in important if c not in cols]
    return SchemaCheck(not missing_required, missing_required, missing_important)
