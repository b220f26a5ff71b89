"""End-to-end pipeline: the reference's three entry points composed from
the engine's operators (SURVEY.md §3).

Phase 1 — upload & header validation (``/upload`` -> ``/validate_headers``,
reference app/routes.py:201-324): plan-time header mapping + schema
assertion + preview. Phase 2 — ETL processing
(``/process_validated_file`` -> ``_process_rows_generator``,
app/etl.py:904-1397): normalize, validate-split, offerings, explode,
exact + fuzzy resolution, band routing, staging outputs. Phase 3 —
review & push (``/reviews`` + ``/reviews/push``, app/routes.py:522-2038):
decision application, country gate, two-phase dim upsert, member MERGE,
audit summaries.

Everything is lazy DataFrames except two materialization points in
``etl_phase``, each one ``localCheckpoint(eager=False)``: the flagged rows
(after the ledger gate, sanitize and the validity flag) and the unioned
``resolution``. Their consumers are separate actions (five CSV report
writes and a sink snapshot), and Catalyst's exchange reuse shares work
only inside one plan, so without them every write re-ran sanitize and
the whole fuzzy-resolution chain. The checkpoints are lazy, but under AQE
their subtrees' shuffle-map stages still run when ``etl_phase`` is
called; the rest runs with the first action that reads them. The only
driver-side ``collect()`` is the bounded header-mapping preview.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyp_etl_pipeline_spark import schema as S
from pyp_etl_pipeline_spark.functions import validation
from pyp_etl_pipeline_spark.functions.nulls import is_valid_value, null_normalize
from pyp_etl_pipeline_spark.functions.text import normalize_offering_text, sanitize_string
from pyp_etl_pipeline_spark.operators.explode import explode_items
from pyp_etl_pipeline_spark.operators.offerings import derive_offerings
from pyp_etl_pipeline_spark.operators.resolve import similarity_resolve
from pyp_etl_pipeline_spark.operators.review import apply_decisions, pending_reviews
from pyp_etl_pipeline_spark.operators.upsert import (
    apply_merge,
    dim_lookup_or_create,
    new_dim_rows,
    processed_files_gate,
)
from pyp_etl_pipeline_spark.plans.header_map import (
    HeaderMapping,
    apply_header_mapping,
    map_headers_to_schema,
)
from pyp_etl_pipeline_spark.plans.schema_check import SchemaCheck, validate_required_columns


# --------------------------------------------------------------------- P1-P5

@dataclass
class IngestPlan:
    mapping: HeaderMapping
    check: SchemaCheck
    normalized: DataFrame
    preview_rows: list = field(default_factory=list)


def ingest_phase(
    raw: DataFrame,
    overrides: dict[str, str] | None = None,
    preview_n: int = 10,
) -> IngestPlan:
    """Phase 1: fuzzy header mapping (P1/P2), canonical normalization
    select (P3), required-column check (P4), preview (P5). All plan-time
    except the bounded preview collect."""
    hm = map_headers_to_schema(raw.columns, overrides=overrides)
    mapped = apply_header_mapping(raw, hm)
    check = validate_required_columns(mapped.columns)
    canonical = [c for c in mapped.columns if not c.startswith("unmapped_")]
    normalized = mapped.select(
        *[null_normalize(c).alias(c) for c in canonical],
        *[F.col(c) for c in mapped.columns if c.startswith("unmapped_")],
    )
    preview = normalized.limit(preview_n).collect()
    return IngestPlan(mapping=hm, check=check, normalized=normalized, preview_rows=preview)


# --------------------------------------------------------------------- phase 2

@dataclass
class EtlResult:
    members: DataFrame        # valid member rows + offerings array
    invalid_rows: DataFrame   # complement, with an error column
    items: DataFrame          # exploded (member key, kind, item)
    resolution: DataFrame     # per distinct item: match, score, band, alternatives
    reviews: DataFrame        # middle-band review queue


def etl_phase(
    normalized: DataFrame,
    dims: dict[str, DataFrame],
    key_col: str = "businessName",
    source_file: str | None = None,
    ledger: DataFrame | None = None,
) -> EtlResult:
    """Phase 2: the main dataflow (F1-F4, T1, J11, E1/E2, J1-J7, J6 bands).

    ``dims`` maps item kind -> canonical dimension (title, ext_id).
    Idempotent re-ingest: when ``ledger`` is given, rows whose
    ``source_file`` is already recorded are dropped (reference
    app/etl.py:910-920 row lock, set-based)."""
    df = normalized
    if source_file is not None:
        df = df.withColumn("source_file", F.lit(source_file))
        if ledger is not None:
            df = processed_files_gate(df, ledger)

    # T1 sanitize on the text-bearing identity fields
    for c in (key_col, "companyBio"):
        if c in df.columns:
            df = df.withColumn(c, sanitize_string(c))

    # F2-F4 validity split (flag column, one scan, two filters). The flagged
    # rows feed the invalid-rows report, push's keep/skipped, the merged
    # sink and the summary, all separate actions: materialize them once.
    valid_expr = is_valid_value(key_col) & is_valid_value("country1") & validation.valid_business_name(key_col)
    if "contactEmail" in df.columns:
        valid_expr = valid_expr & validation.valid_email("contactEmail")
    flagged = df.withColumn("__valid", valid_expr).localCheckpoint(eager=False)
    invalid = flagged.filter(~F.col("__valid")).withColumn(
        "error",
        F.when(~is_valid_value(key_col), F.lit("missing businessName"))
        .when(~is_valid_value("country1"), F.lit("missing country"))
        .when(~validation.valid_business_name(key_col), F.lit("invalid businessName"))
        .otherwise(F.lit("invalid email")),
    ).drop("__valid")
    members = flagged.filter(F.col("__valid")).drop("__valid")

    # J11 offerings
    members = derive_offerings(members)

    # E1 explode the four item kinds, then normalize each item through the
    # reference's T2-T5 + T1 chain BEFORE dedup/resolution (the reference
    # normalizes-then-dedups per row, app/etl.py:1228-1238, so variant
    # spellings collapse to one item)
    items = explode_items(members, [key_col], dedup=False)
    items = items.withColumn("item", sanitize_string(normalize_offering_text("item")))
    items = (
        items.withColumn("_k", F.lower(F.col("item")))
        .dropDuplicates([key_col, "kind", "_k"])
        .drop("_k")
    )

    # J1-J7: exact + blocked fuzzy resolution per kind, banded
    parts = []
    for kind, dim in dims.items():
        kind_items = items.filter(F.col("kind") == kind).select(F.col("item"))
        res = similarity_resolve(kind_items, dim).withColumn("kind", F.lit(kind))
        parts.append(res)
    resolution = parts[0]
    for p in parts[1:]:
        resolution = resolution.unionByName(p)
    # The resolution report, the review queue, the summary's pending count
    # and push's new-dimension lookups are separate actions: materialize
    # once so each does not re-run fuzzy resolution.
    resolution = resolution.localCheckpoint(eager=False)

    reviews = (
        resolution.filter(F.col("band") == "review")
        .select(
            "kind",
            "item",
            "score",
            F.col("matched_title").alias("suggested_name"),
            F.col("suggested_id").alias("suggested_ext_id"),
            "alternatives",
        )
        .withColumn("approved", F.lit(None).cast("boolean"))
        .withColumn("resolved", F.lit(False))
        .withColumn("ignored", F.lit(False))
        .withColumn("matched_canonical_id", F.lit(None).cast("string"))
    )
    return EtlResult(members=members, invalid_rows=invalid, items=items, resolution=resolution, reviews=reviews)


# --------------------------------------------------------------------- phase 3

@dataclass
class PushResult:
    merged_sink: DataFrame
    new_dim_rows: dict[str, DataFrame]
    skipped_members: DataFrame
    summary: DataFrame


def push_phase(
    etl: EtlResult,
    countries: DataFrame,
    sink: DataFrame,
    dims: dict[str, DataFrame],
    decisions: DataFrame | None = None,
    key_col: str = "businessName",
) -> PushResult:
    """Phase 3: review application + country gate (F5) + two-phase dim
    upsert (J10) + member MERGE (J9/S9) + push summary (A3).

    The reference does this with 1-4 HTTP point lookups per member inside
    a Python loop; here every probe is a set-based join."""
    reviews = etl.reviews
    if decisions is not None:
        reviews = apply_decisions(reviews, decisions)

    # F5 country whitelist: semi-join keeps, anti-join reports
    m = etl.members
    keep = m.join(
        F.broadcast(countries.select(F.lower(F.trim("title")).alias("__ct"))),
        F.lower(F.trim(m["country1"])) == F.col("__ct"),
        "left_semi",
    )
    skipped = m.join(
        F.broadcast(countries.select(F.lower(F.trim("title")).alias("__ct"))),
        F.lower(F.trim(m["country1"])) == F.col("__ct"),
        "left_anti",
    ).withColumn("skip_reason", F.lit("country not in whitelist"))

    # J10 per-kind dim lookup-or-create over approved/resolved items
    resolved_items = etl.resolution.filter(F.col("resolved")).select("kind", F.col("item").alias("title"))
    approved_new = reviews.filter(F.col("approved") & F.col("matched_canonical_id").isNull()).select(
        "kind", F.col("item").alias("title")
    )
    to_create = resolved_items.unionByName(approved_new)
    new_dims: dict[str, DataFrame] = {}
    for kind, dim in dims.items():
        lookup = dim_lookup_or_create(to_create.filter(F.col("kind") == kind), dim)
        new_dims[kind] = new_dim_rows(lookup)

    # J9/S9 member MERGE keyed on businessName
    merged = apply_merge(keep, sink, [key_col])

    summary = (
        keep.agg(F.count("*").alias("n")).select(F.lit("members_pushed").alias("metric"), "n")
        .unionByName(skipped.agg(F.count("*").alias("n")).select(F.lit("members_skipped").alias("metric"), "n"))
        .unionByName(
            pending_reviews(reviews).agg(F.count("*").alias("n")).select(F.lit("reviews_pending").alias("metric"), "n")
        )
    )
    return PushResult(merged_sink=merged, new_dim_rows=new_dims, skipped_members=skipped, summary=summary)


def preview_push(
    etl: EtlResult,
    countries: DataFrame,
    sink: DataFrame,
    n: int = 5,
    key_col: str = "businessName",
) -> DataFrame:
    """Dry-run mutation preview (reference ``/reviews/preview_mutations``,
    app/routes.py:871-1040): the first ``n`` members' would-be MERGE
    actions, with nothing written — the EXPLAIN of the push. Bounded
    collect-side output (limit n), everything else stays lazy."""
    from pyp_etl_pipeline_spark.operators.upsert import merge_classify  # noqa: PLC0415

    m = etl.members
    allowed = m.join(
        F.broadcast(countries.select(F.lower(F.trim("title")).alias("__ct"))),
        F.lower(F.trim(m["country1"])) == F.col("__ct"),
        "left_semi",
    )
    actions = merge_classify(allowed, sink, key=key_col)
    return (
        actions.filter(F.col("action") != "sink_only")
        .orderBy("merge_key")
        .limit(n)
        .select(F.col("name").alias(key_col), "action")
    )
