"""Aggregation / summary operators (A1-A6, O1-O7 helpers).

Reference semantics: review-state categorization
(``app/routes.py:527-549``), per-member ID rollups (``:1424-1447``),
bounded top-k per group, and the daily-quota observation. The A1 band
counters and A5 error summary live in the registry queries a01/a05.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def review_state_summary(reviews: DataFrame) -> DataFrame:
    """A2: pending / approved / rejected / ignored categorization."""
    state = (
        F.when(F.col("ignored"), F.lit("ignored"))
        .when(F.col("approved").isNull(), F.lit("pending"))
        .when(F.col("approved"), F.lit("approved"))
        .otherwise(F.lit("rejected"))
    )
    return reviews.groupBy(state.alias("state")).agg(F.count("*").alias("n"))


def per_member_rollup(items: DataFrame, member_col: str = "member_id", id_col: str = "matched_id") -> DataFrame:
    """A4/U2: distinct resolved IDs per member as a sorted array."""
    return (
        items.filter(F.col(id_col).isNotNull())
        .groupBy(member_col)
        .agg(F.sort_array(F.collect_set(id_col)).alias("all_ids"), F.count("*").alias("n_items"))
    )


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order_col: str, k: int, tiebreak_cols: list[str] | None = None
) -> DataFrame:
    """O2/O3: bounded top-k per group with deterministic tie-breaks."""
    order = [F.desc(order_col)] + [F.asc(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def observe_quota(df: DataFrame, bytes_col: str, name: str = "quota"):
    """A6 analog: attach an Observation aggregating processed bytes —
    Spark's ``observe`` replaces the reference's daily-quota accumulator
    (zero extra passes; metrics materialize with the first action).
    Returns (df_with_observation, observation); read ``observation.get``
    after an action and feed it to ``operators.quota.DailyQuota``."""
    from pyspark.sql import Observation  # noqa: PLC0415

    obs = Observation(name)
    out = df.observe(obs, F.sum(F.col(bytes_col)).alias("bytes_processed"), F.count(F.lit(1)).alias("rows"))
    return out, obs
