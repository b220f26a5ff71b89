"""Report sinks (S10/S11) and reset (S12).

Reference semantics: three CSV audit reports — processed rows, errors,
created nodes (``app/report_utils.py:17-265``) — plus a per-row error CSV
(``app/routes.py:461-485``). Here each report is a DataFrame written with
``coalesce(1)`` for a single human-readable artifact (the audit file is
small by construction; the data path never coalesces).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_report_csv(
    df: DataFrame, out_dir: str, single_file: bool = True, encoding: str | None = None
) -> None:
    """S10: audit CSV (header, overwrite). ``encoding`` must be a name
    Spark's CSV charset whitelist accepts (e.g. ``iso-8859-1`` for a
    latin-1 report a legacy consumer requires); default is utf-8."""
    w = df.coalesce(1) if single_file else df
    writer = w.write.mode("overwrite").option("header", True)
    if encoding is not None:
        writer = writer.option("encoding", encoding)
    writer.csv(out_dir)


def truncate_dir(path: str) -> None:
    """S12: clear a staging directory (overwrite-style reset)."""
    shutil.rmtree(path, ignore_errors=True)


def build_audit_reports(
    submission_name: str,
    resolution: DataFrame,
    invalid_rows: DataFrame,
    new_dim_rows: dict[str, DataFrame],
    member_key: str = "businessName",
):
    """The reference's three audit reports (``app/report_utils.py:29-44``
    processed rows, ``:126-136`` errors, ``:200-211`` created nodes) as
    DataFrames with the same column headers, built from pipeline outputs.
    Write each with ``write_report_csv`` and bundle with ``zip_reports``.
    """
    sub = F.lit(submission_name)
    ts = F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")

    processed = resolution.select(
        sub.alias("Submission Name"),
        F.lit(None).cast("string").alias("Business Name"),
        F.col("kind").alias("Item Type") if "kind" in resolution.columns else F.lit("item").alias("Item Type"),
        F.col("item").alias("Original Item Name"),
        F.col("item").alias("Normalized Item Name"),
        F.col("band").alias("Decision Status"),
        F.col("matched_id").alias("Matched Canonical ID"),
        F.col("matched_title").alias("Canonical Name"),
        F.round("score", 2).alias("Confidence Score"),
        F.when(F.col("band") == "review", F.lit("pending")).otherwise(F.lit("n/a")).alias("Review Status"),
        (F.col("band") == "reject").alias("Ignored"),
        ts.alias("Created At"),
        F.lit(None).cast("string").alias("Review Timestamp"),
        F.lit(None).cast("string").alias("Reviewer Action"),
    )

    errors = invalid_rows.select(
        sub.alias("Submission Name"),
        F.col(member_key).alias("Business Name"),
        F.lit("validation").alias("Error Type"),
        F.lit("row_validation").alias("Error Category"),
        F.col("error").alias("Error Message"),
        F.lit(None).cast("string").alias("Item Type"),
        F.lit(None).cast("string").alias("Item Name"),
        F.lit(None).cast("long").alias("Row Number"),
        ts.alias("Timestamp"),
    )

    created_parts = []
    for kind, nd in new_dim_rows.items():
        created_parts.append(
            nd.select(
                sub.alias("Submission Name"),
                F.lit(kind).alias("Node Type"),
                F.col("ext_id").alias("Node ID"),
                F.col("title").alias("Title"),
                ts.alias("Created At"),
                F.lit(None).cast("string").alias("Associated Business"),
                F.lit("pipeline").alias("Source"),
                F.lit(None).cast("string").alias("Notes"),
            )
        )
    created = created_parts[0] if created_parts else None
    for p in (created_parts[1:] if created_parts else []):
        created = created.unionByName(p)
    return processed, errors, created


def zip_reports(out_zip: str, report_dirs: dict[str, str]) -> None:
    """Bundle the single-file CSVs into one zip (reference
    ``app/routes.py:2113-2145``)."""
    import os  # noqa: PLC0415
    import zipfile  # noqa: PLC0415

    with zipfile.ZipFile(out_zip, "w", zipfile.ZIP_DEFLATED) as z:
        for name, d in report_dirs.items():
            for f_ in os.listdir(d):
                if f_.endswith(".csv"):
                    z.write(os.path.join(d, f_), arcname=f"{name}.csv")
