"""End-to-end pipeline test: a reference-shaped messy upload (FIXTURES.md
A1/A2) through all three phases — header mapping, ETL with band routing,
review decisions, country gate, dim upsert, member MERGE."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyp_etl_pipeline_spark import pipeline

RAW_HEADERS = ["Company Name", "e-mail", "Address", "City", "Country", "company bio", "Products", "ingredients"]
RAW_ROWS = [
    # (name, email, addr, city, country, bio, products, ingredients)
    ("Acme Foods", "a@acme.example", "1 Way", "Springfield", "United States", "<b>We make things</b>",
     "Vitamin C; vitamin c, Zinc Oxide", "Sea Salt"),
    ("Beta Supplements", "b@beta.example", "2 Way", "Shelbyville", "Canada", "bio",
     "Vitamin D3 Capsules", "N/A"),
    ("Gamma Ltd", "not-an-email", "3 Way", "Town", "United States", "bio", "Zinc", None),  # invalid email
    ("X", "x@x.example", "4 Way", "Town", "Canada", "bio", "Something", None),              # name too short
    ("Delta Co", "d@d.example", "5 Way", "Ville", "Atlantis", "bio", "Vitamin C", None),    # bad country
    ("Acme Foods 2", "null", "6 Way", "Springfield", "united states", "bio",
     "totally unknown compound xyz", "Water"),
]

DIM_PRODUCTS = [("Vitamin C", "P1"), ("Vitamin D3", "P2"), ("Zinc Oxide", "P3"), ("Zinc Gluconate", "P4")]
DIM_INGREDIENTS = [("Sea Salt", "I1"), ("Water", "I2")]
COUNTRIES = [("United States", "C1"), ("Canada", "C2")]
SINK = [("Acme Foods", "old@acme.example")]


@pytest.fixture(scope="module")
def raw(spark):
    return spark.createDataFrame(RAW_ROWS, RAW_HEADERS)


@pytest.fixture(scope="module")
def dims(spark):
    return {
        "product": spark.createDataFrame(DIM_PRODUCTS, "title string, ext_id string"),
        "ingredient": spark.createDataFrame(DIM_INGREDIENTS, "title string, ext_id string"),
    }


@pytest.fixture(scope="module")
def countries(spark):
    return spark.createDataFrame(COUNTRIES, "title string, countryID string")


@pytest.fixture(scope="module")
def sink(spark):
    return spark.createDataFrame(SINK, "businessName string, contactEmail string")


def test_phase1_header_mapping_and_preview(raw):
    plan = pipeline.ingest_phase(raw)
    rename = plan.mapping.rename_dict()
    assert rename["Company Name"] == "businessName"
    assert rename["e-mail"] == "contactEmail"
    assert rename["company bio"] == "companyBio"
    assert plan.check.is_valid  # all required columns present after mapping
    assert len(plan.preview_rows) == len(RAW_ROWS)
    # sentinel nulls normalized in the preview
    by_name = {r["businessName"]: r for r in plan.preview_rows}
    assert by_name["Acme Foods 2"]["contactEmail"] is None


def run_etl(raw, dims):
    plan = pipeline.ingest_phase(raw)
    return pipeline.etl_phase(plan.normalized, dims)


def test_phase2_validity_split(raw, dims):
    etl = run_etl(raw, dims)
    valid_names = {r["businessName"] for r in etl.members.collect()}
    assert valid_names == {"Acme Foods", "Beta Supplements", "Delta Co", "Acme Foods 2"}
    errors = {r["businessName"]: r["error"] for r in etl.invalid_rows.collect()}
    assert errors["Gamma Ltd"] == "invalid email"
    assert errors["X"] == "invalid businessName"
    # T1 sanitize stripped the HTML from the bio
    acme = [r for r in etl.members.collect() if r["businessName"] == "Acme Foods"][0]
    assert "<b>" not in acme["companyBio"]


def test_phase2_explode_and_bands(raw, dims):
    etl = run_etl(raw, dims)
    items = {(r["kind"], r["item"]) for r in etl.items.collect()}
    # E2: case-insensitive dedup removed the repeated 'vitamin c'
    acme_products = [i for k, i in items if k == "product" and "itamin" in i]
    assert len([i for i in acme_products if i.lower() == "vitamin c"]) == 1

    res = {r["item"]: r for r in etl.resolution.collect()}
    assert res["Vitamin C"]["band"] == "auto_resolve" and res["Vitamin C"]["score"] == 100.0
    # items are normalized (T2-T5) before resolution, so Capital-Case key
    assert res["Totally Unknown Compound Xyz"]["band"] == "reject"
    assert res["Sea Salt"]["band"] == "auto_resolve"
    # near-match lands in review with a suggestion
    assert res["Vitamin D3 Capsules"]["band"] == "review"
    assert res["Vitamin D3 Capsules"]["matched_title"] == "Vitamin D3"
    # every item is in exactly one band
    assert set(r["band"] for r in etl.resolution.collect()) <= {"auto_resolve", "review", "reject"}


def test_phase3_push(spark, raw, dims, countries, sink):
    etl = run_etl(raw, dims)
    decisions = spark.createDataFrame(
        [("Vitamin D3 Capsules", "approve_match", None)], "item string, action string, chosen_ext_id string"
    )
    push = pipeline.push_phase(etl, countries, sink, dims, decisions=decisions)

    # F5: Delta Co (Atlantis) skipped
    assert [r["businessName"] for r in push.skipped_members.collect()] == ["Delta Co"]

    merged = {r["businessName"]: r for r in push.merged_sink.collect()}
    # update path: Acme Foods replaced with staged row; insert path: the rest
    assert merged["Acme Foods"]["contactEmail"] == "a@acme.example"
    assert "Beta Supplements" in merged and "Acme Foods 2" in merged
    assert "Delta Co" not in merged

    # J10: the unknown compound was rejected (not resolved) -> no new dim row;
    # approved review match resolves to existing P2 -> also no new dim row
    for kind, nd in push.new_dim_rows.items():
        assert nd.count() == 0, kind

    summary = {r["metric"]: r["n"] for r in push.summary.collect()}
    assert summary["members_pushed"] == 3
    assert summary["members_skipped"] == 1
    assert summary["reviews_pending"] == 0  # the single review item was decided


def test_preview_push_dry_run(raw, dims, countries, sink):
    etl = run_etl(raw, dims)
    preview = {r["businessName"]: r["action"] for r in pipeline.preview_push(etl, countries, sink).collect()}
    assert preview["Acme Foods"] == "update"
    assert preview["Beta Supplements"] == "insert"
    assert "Delta Co" not in preview  # country-gated out of the dry run too


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_shared_relations_are_materialized_once(raw, dims, countries, sink):
    """The report writes and the snapshot are separate actions, so the
    flagged rows and the resolution are checkpointed: no consumer's plan
    re-derives sanitize or the fuzzy-resolution windows."""
    etl = run_etl(raw, dims)
    push = pipeline.push_phase(etl, countries, sink, dims)
    no_window = {"resolution": etl.resolution, "reviews": etl.reviews, "summary": push.summary}
    no_window.update({f"new_dim_rows[{k}]": df for k, df in push.new_dim_rows.items()})
    for name, df in no_window.items():
        assert _optimized_plan(df).count("Window") == 0, name
    for name, df in {"invalid_rows": etl.invalid_rows, "members": etl.members}.items():
        assert _optimized_plan(df).count("regexp_replace") == 0, name


def test_idempotent_reingest(spark, raw, dims, countries, sink):
    plan = pipeline.ingest_phase(raw)
    ledger = spark.createDataFrame([("upload1.csv",)], "source_file string")
    etl = pipeline.etl_phase(plan.normalized, dims, source_file="upload1.csv", ledger=ledger)
    assert etl.members.count() == 0  # file already processed -> no-op
    assert etl.resolution.count() == 0 and etl.reviews.count() == 0
    push = pipeline.push_phase(etl, countries, sink, dims)
    assert {r["metric"]: r["n"] for r in push.summary.collect()}["members_pushed"] == 0
    etl2 = pipeline.etl_phase(plan.normalized, dims, source_file="upload2.csv", ledger=ledger)
    assert etl2.members.count() == 4
