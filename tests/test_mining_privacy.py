"""Round-8 batch: hard-negative mining, curriculum scheduling, MLM
masking plans, noisy count release, skew audit, rank agreement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyp_etl_pipeline_spark.functions import masking
from pyp_etl_pipeline_spark.operators import sampling, similarity, skew, textan


# --------------------------------------------------------------------------
# hard_negative_mining
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def labeled_vecs(spark):
    # 2D toy geometry: label 0 clusters near (1, 0), label 1 near (0, 1),
    # one traitor of label 1 sitting inside cluster 0.
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [0.8, 0.2], 0),
        (3, [0.0, 1.0], 1),
        (4, [0.1, 0.9], 1),
        (5, [0.95, 0.05], 1),  # the hard negative for anchors in cluster 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_hard_negatives_picks_the_traitor(spark, labeled_vecs):
    anchors = labeled_vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    out = similarity.hard_negative_mining(labeled_vecs, anchors, k_neg=2).collect()
    neg = sorted([r for r in out if r["role"] == "neg"], key=lambda r: r["match_rank"])
    pos = [r for r in out if r["role"] == "pos"]
    # hardest negative = the label-1 vector closest to the anchor
    assert neg[0]["neighbor_id"] == 5
    assert len(neg) == 2
    # hardest positive = the same-label vector FURTHEST from the anchor
    assert len(pos) == 1
    assert pos[0]["neighbor_id"] == 2
    assert pos[0]["match_rank"] == 1


def test_hard_negatives_null_label_is_a_negative(spark, labeled_vecs):
    vecs = labeled_vecs.withColumn(
        "label", F.when(F.col("vec_id") == 5, F.lit(None).cast("int")).otherwise(F.col("label"))
    )
    anchors = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    out = similarity.hard_negative_mining(vecs, anchors, k_neg=1).collect()
    neg = [r for r in out if r["role"] == "neg"]
    assert neg[0]["neighbor_id"] == 5  # NULL label != 0, still minable


def test_hard_negatives_null_vectors_excluded(spark, labeled_vecs):
    vecs = labeled_vecs.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 5, F.lit(None).cast("array<double>")).otherwise(F.col("embedding")),
    )
    anchors = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    out = similarity.hard_negative_mining(vecs, anchors, k_neg=5).collect()
    assert all(r["neighbor_id"] != 5 for r in out)


# --------------------------------------------------------------------------
# curriculum_schedule
# --------------------------------------------------------------------------

def test_curriculum_phases_and_determinism(spark):
    docs = spark.createDataFrame(
        [(1, 3_500_000), (2, 4_000_000), (3, 5_500_000), (4, 9_000_000)],
        "doc_id long, diff long",
    )
    out = {
        r["doc_id"]: r
        for r in sampling.curriculum_schedule(docs, F.col("diff")).collect()
    }
    assert [out[i]["phase"] for i in (1, 2, 3, 4)] == [0, 1, 2, 3]
    # order_key is the keyed hash — stable across calls
    again = {
        r["doc_id"]: r["order_key"]
        for r in sampling.curriculum_schedule(docs, F.col("diff")).collect()
    }
    assert {k: v["order_key"] for k, v in out.items()} == again
    assert all(0 <= v <= sampling.BUCKETS for v in again.values())


def test_curriculum_is_map_only(spark):
    docs = spark.range(100).select(F.col("id").alias("doc_id"), (F.col("id") * 100000).alias("diff"))
    plan = sampling.curriculum_schedule(docs, F.col("diff"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle: pure map


# --------------------------------------------------------------------------
# mlm_masking_plan
# --------------------------------------------------------------------------

def test_mlm_masking_plan_shape_and_rate(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(40))) for i in range(50)],
        "doc_id long, text string",
    )
    out = textan.mlm_masking_plan(docs).collect()
    assert all(r["n_tokens"] == 40 for r in out)
    total = sum(r["n_masked"] for r in out)
    # 2000 positions at 15% -> binomial; generous bounds
    assert 200 <= total <= 400
    for r in out:
        prev = r["masked_preview"].split(" ")
        assert len(prev) == 10
        n_masked_prev = sum(1 for t in prev if t == "[MASK]")
        if r["first_masked_pos"] is not None and r["first_masked_pos"] <= 10:
            assert prev[r["first_masked_pos"] - 1] == "[MASK]"
        else:
            assert n_masked_prev == 0


def test_mlm_masking_edge_docs(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "one")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textan.mlm_masking_plan(docs).collect()}
    assert 3 not in out  # null text filtered
    for i in (1, 2):
        assert out[i]["n_tokens"] == 0
        assert out[i]["n_masked"] == 0
        assert out[i]["first_masked_pos"] is None
        assert out[i]["masked_preview"] == ""
    assert out[4]["n_tokens"] == 1


def test_mlm_salt_rerolls_the_mask(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"w{j}" for j in range(200)))], "doc_id long, text string"
    )
    a = textan.mlm_masking_plan(docs, salt="epoch-0").collect()[0]
    b = textan.mlm_masking_plan(docs, salt="epoch-1").collect()[0]
    assert a["n_tokens"] == b["n_tokens"] == 200
    assert (a["n_masked"], a["first_masked_pos"]) != (b["n_masked"], b["first_masked_pos"]) or (
        a["masked_preview"] != b["masked_preview"]
    )


# --------------------------------------------------------------------------
# noisy_group_counts
# --------------------------------------------------------------------------

def test_noisy_counts_bounded_sticky_and_clamped(spark):
    df = spark.createDataFrame(
        [("en", "web")] * 100 + [("de", "web")] * 3 + [(None, "pdf")] * 2,
        "lang string, source string",
    )
    out = {
        (r["lang"], r["source"]): r["noisy_count"]
        for r in masking.noisy_group_counts(df, ("lang", "source"), noise_bound=20).collect()
    }
    assert len(out) == 3
    assert 80 <= out[("en", "web")] <= 120
    assert 0 <= out[("de", "web")] <= 23  # clamped at zero
    assert 0 <= out[(None, "pdf")] <= 22  # null key groups fine
    again = {
        (r["lang"], r["source"]): r["noisy_count"]
        for r in masking.noisy_group_counts(df, ("lang", "source"), noise_bound=20).collect()
    }
    assert out == again  # sticky noise
    other = {
        (r["lang"], r["source"]): r["noisy_count"]
        for r in masking.noisy_group_counts(df, ("lang", "source"), noise_bound=20, salt="v2").collect()
    }
    assert other != out  # a new salt draws a fresh release (overwhelmingly)


def test_noisy_counts_injective_group_encoding(spark):
    # separator-ambiguous groups (('a|b','c') vs ('a','b|c')) and a
    # literal sentinel vs NULL must NOT deterministically share noise
    # (ADVICE r8: concat_ws encoding made them collide). Each pair has
    # equal true counts, so equal noisy counts == equal noise; with an
    # injective encoding all 6 pairs colliding by chance is ~41^-6.
    pairs = [
        (("a|b", "c"), ("a", "b|c")),
        (("x|", "y"), ("x", "|y")),
        (("", "p|q"), ("|p", "q")),
        (("m|n|o", "z"), ("m", "n|o|z")),
        (("␀", "w"), (None, "w")),
        (("h|", "|k"), ("h", "||k")),
    ]
    rows = [g for pair in pairs for g in pair for _ in range(5)]
    df = spark.createDataFrame(rows, "lang string, source string")
    out = {
        (r["lang"], r["source"]): r["noisy_count"]
        for r in masking.noisy_group_counts(df, ("lang", "source"), noise_bound=20).collect()
    }
    assert len(out) == 12
    assert any(out[a] != out[b] for a, b in pairs)


# --------------------------------------------------------------------------
# skew_audit
# --------------------------------------------------------------------------

def test_skew_audit_flags_the_hot_key(spark):
    rows = [(1,)] * 90 + [(2,)] * 5 + [(3,)] * 5
    df = spark.createDataFrame(rows, "k long")
    out = skew.skew_audit(df, "k", top_n=2).collect()
    assert len(out) == 2
    top = out[0]
    assert top["key_rank"] == 1 and top["key_value"] == "1"
    assert top["n_rows"] == 90
    assert top["share_micro"] == 900_000
    # max=90, mean=100/3 -> skew 2.7x, salt factor ceil(270/100)=3
    assert top["skew_micro"] == 2_700_000
    assert top["salt_factor"] == 3


def test_skew_audit_uniform_is_1x(spark):
    df = spark.range(100).select((F.col("id") % 10).alias("k"))
    out = skew.skew_audit(df, "k", top_n=1).collect()[0]
    assert out["skew_micro"] == 1_000_000
    assert out["salt_factor"] == 1


def test_skew_audit_null_key_counts(spark):
    df = spark.createDataFrame([(None,)] * 50 + [(1,)] * 10, "k string")
    out = skew.skew_audit(df, "k", top_n=1).collect()[0]
    assert out["key_value"] is None
    assert out["n_rows"] == 50


# --------------------------------------------------------------------------
# ev04 / ev05 / tx17 (registry-level invariants on sf0.001)
# --------------------------------------------------------------------------

def test_ev04_calibration_totals(spark):
    from pyp_etl_pipeline_spark.driver_queries_ext3 import ev04_gate_calibration
    from pyp_etl_pipeline_spark.tables import load_table

    rows = ev04_gate_calibration(spark, "/root/testdata/sf0.001").collect()
    n_docs = load_table(spark, "/root/testdata/sf0.001", "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert 0 <= r["n_pass"] <= r["n_docs"]
        assert r["pass_rate_micro"] == r["n_pass"] * 1_000_000 // r["n_docs"]
        assert r["lo_words"] == r["bin"] * 50


def test_ev05_kappa_identity_and_bounds(spark):
    from pyp_etl_pipeline_spark.driver_queries_ext3 import ev05_gate_kappa

    r = ev05_gate_kappa(spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n"] == r["n_both"] + r["n_gopher_only"] + r["n_keep_only"] + r["n_neither"]
    assert r["po_nano"] == (r["n_both"] + r["n_neither"]) * 1_000_000_000 // r["n"]
    # kappa in [-1e6, 1e6]
    assert -1_000_000 <= r["kappa_micro"] <= 1_000_000
    # replay the full formula in exact Python ints
    pe = (
        (r["n_both"] + r["n_gopher_only"]) * (r["n_both"] + r["n_keep_only"])
        + (r["n_keep_only"] + r["n_neither"]) * (r["n_gopher_only"] + r["n_neither"])
    ) * 1_000_000_000 // (r["n"] * r["n"])
    assert r["pe_nano"] == pe
    num = r["po_nano"] - pe
    expected = num * 1_000_000 // (1_000_000_000 - pe) if 1_000_000_000 - pe > 0 else None
    if expected is not None and num < 0:
        # both engines truncate toward zero
        expected = -((-num) * 1_000_000 // (1_000_000_000 - pe))
    assert r["kappa_micro"] == expected


def test_tx17_url_normalization_semantics(spark):
    from pyp_etl_pipeline_spark.driver_queries_ext3 import tx17_url_normalize

    rows = {r["doc_id"]: r for r in tx17_url_normalize(spark, "/root/testdata/sf0.001").collect()}
    assert rows
    for did, r in rows.items():
        # host is lowercased and www-stripped
        assert r["host"].startswith("") and "www." not in r["host"]
        assert r["host"] == r["host"].lower()
        # tracking params stripped, fragment dropped, id param kept sorted-first
        assert "utm_" not in r["canon_url"]
        assert "#" not in r["canon_url"]
        assert f"id={did}" in r["canon_url"]
        if did % 2 == 0:
            assert r["canon_url"].endswith(f"?id={did}&ref=rss")
        else:
            assert r["canon_url"].endswith(f"?id={did}")
        assert r["path_depth"] == 2  # /<lang>/doc-<id>


# --------------------------------------------------------------------------
# dc03 / px03 / dd08 (registry-level invariants on sf0.001)
# --------------------------------------------------------------------------

def test_dc03_flags_match_counts(spark):
    from pyp_etl_pipeline_spark.driver_queries_ext3 import dc03_semantic_decontaminate

    rows = dc03_semantic_decontaminate(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["vec_id"] % 100 != 0  # eval vectors never appear as train
        assert r["contaminated"] == (r["n_eval_hits"] > 0)
        if r["n_eval_hits"] > 0:
            assert r["max_cos"] >= 0.25


def test_px03_density_consistency(spark):
    from pyp_etl_pipeline_spark.driver_queries_ext3 import px03_pii_density
    from pyp_etl_pipeline_spark.tables import load_table

    rows = px03_pii_density(spark, "/root/testdata/sf0.001").collect()
    n_docs = load_table(spark, "/root/testdata/sf0.001", "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    grand_total = 0
    for r in rows:
        total = r["n_email"] + r["n_phone"] + r["n_ipv4"] + r["n_ssn"]
        grand_total += total
        assert r["density_micro"] == total * 1_000_000 // r["n_docs"]
    # px01 injects one PII payload into 3 of every 4 docs corpus-wide
    # (source correlates with doc_id mod 4 in the testdata, so SOME
    # sources legitimately report zero — the report's whole point)
    assert grand_total >= n_docs // 2


def test_dd08_savings_arithmetic(spark):
    from pyp_etl_pipeline_spark.driver_queries_ext3 import dd08_dedup_savings
    from pyp_etl_pipeline_spark.tables import load_table

    rows = dd08_dedup_savings(spark, "/root/testdata/sf0.001").collect()
    assert rows
    corpus_docs = load_table(spark, "/root/testdata/sf0.001", "documents").count()
    removable_total = rows[0]["n_removable_total"]
    assert all(r["corpus_docs"] == corpus_docs for r in rows)
    assert sum(r["n_removable"] for r in rows) == removable_total
    for r in rows:
        assert r["cluster_size"] >= 2  # clusters come from pairs: no singletons
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
        assert r["dedup_ratio_micro"] == removable_total * 1_000_000 // corpus_docs


def test_tk03_coverage_invariants(spark):
    from pyp_etl_pipeline_spark.driver_queries_ext3 import tk03_vocab_coverage

    r = tk03_vocab_coverage(spark, "/root/testdata/sf0.001").collect()[0]
    assert r["vocab_size"] > 0
    assert 0 <= r["n_unk_words"] <= r["n_words"]
    assert 0 <= r["unk_tokens"] <= r["n_tokens"]
    assert r["unk_rate_micro"] == r["unk_tokens"] * 1_000_000 // r["n_tokens"]
    # every covered word segments into >= 1 piece
    assert r["fertility_micro"] is None or r["fertility_micro"] >= 1_000_000


def test_ev06_auc_replay(spark, sf_dir):
    from pyp_etl_pipeline_spark.driver_queries_ext3 import ev06_quality_auc
    from pyp_etl_pipeline_spark.tables import load_corpus
    from pyp_etl_pipeline_spark.operators import textan as _t

    r = ev06_quality_auc(spark, sf_dir).collect()[0]
    assert r["n"] == r["n_pos"] + r["n_neg"]
    assert 0 <= r["auc_micro"] <= 1_000_000
    # replay the Mann-Whitney with midranks in pure Python
    rows = _t.gopher_quality_flags(
        load_corpus(spark, sf_dir, "documents")
    ).select("n_words", "gopher_pass").collect()
    pairs = [(x["n_words"], bool(x["gopher_pass"])) for x in rows if x["n_words"] is not None]
    pos = [s for s, p in pairs if p]
    neg = [s for s, p in pairs if not p]
    import itertools
    u2 = sum(2 for p, q in itertools.product(pos, neg) if p > q) + sum(
        1 for p, q in itertools.product(pos, neg) if p == q
    )
    expected = u2 * 1_000_000 // (2 * len(pos) * len(neg))
    assert r["auc_micro"] == expected


def test_cf01_cascade_soundness(spark, sf_dir):
    from pyp_etl_pipeline_spark.driver_queries_ext3 import cf01_cascade_filter
    from pyp_etl_pipeline_spark.tables import load_corpus
    from pyp_etl_pipeline_spark.operators import textan as _t

    r = cf01_cascade_filter(spark, sf_dir).collect()[0]
    assert r["n_total"] == r["n_screened_out"] + r["n_gate_evaluated"]
    assert r["gate_work_saved_micro"] == r["n_screened_out"] * 1_000_000 // r["n_total"]
    # soundness: the screen is implied by the gate, so the cascade's pass
    # count equals running the full gate over everything
    full = _t.gopher_quality_flags(
        load_corpus(spark, sf_dir, "documents")
    ).filter("gopher_pass").count()
    assert r["n_pass"] == full
