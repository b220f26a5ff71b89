"""Driver-contract queries, part 2: similarity join chain, top-k/windows,
dedup suite, ANN search, text analysis, streaming — plus the merged REGISTRY.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyp_etl_pipeline_spark import driver_queries as core
from pyp_etl_pipeline_spark import driver_queries_ext3 as _ext3
from pyp_etl_pipeline_spark import driver_queries_ext4 as _ext4
from pyp_etl_pipeline_spark.functions import scoring
from pyp_etl_pipeline_spark.operators import dedup, resolve, similarity, textan, windows
from pyp_etl_pipeline_spark.operators.similarity import _hyperplanes
from pyp_etl_pipeline_spark.tables import (
    load_corpus,
    load_corpus_unique,
    load_table,
    scratch_path,
    synth_media,
)


# --------------------------------------------------------------------------
# J2-J7: the blocked similarity join chain (token_set scorer + penalties)
# --------------------------------------------------------------------------

def _fuzzy_adjusted(spark: SparkSession, sf: str) -> DataFrame:
    """Shared chain: queries = part names minus first token (every 10th part,
    every 4th of those prefixed 'organic ' to fire the dietary penalty);
    candidates = token-blocked part names; token_set scoring + disagreement
    + penalties -> one row per candidate pair with ``adjusted``."""
    part = load_table(spark, sf, "part")
    q0 = part.filter(F.col("p_partkey") % 10 == 0).select(
        F.col("p_partkey").alias("qk"),
        F.array_join(F.slice(F.split("p_name", " "), 2, 100), " ").alias("qname0"),
    )
    q = q0.select(
        "qk",
        F.when(F.col("qk") % 40 == 0, F.concat(F.lit("organic "), F.col("qname0")))
        .otherwise(F.col("qname0"))
        .alias("qname"),
    )
    qt = q.select("qk", "qname", scoring.tokens("qname").alias("qtok"))
    dt = part.select(F.col("p_partkey").alias("ck"), F.col("p_name").alias("cname")).withColumn(
        "ctok", scoring.tokens("cname")
    )
    # candidate generation: broadcast the small query-token index and
    # stream the (repartitioned) dimension side through it — no shuffle of
    # the big side; the k-shared-tokens fan-out collapses in the map-side
    # partial aggregate of the pair-distinct.
    qx = qt.select("qk", F.explode("qtok").alias("tok"))
    dx = resolve.ensure_parallelism(dt).select("ck", F.explode("ctok").alias("tok"))
    pr = dx.join(F.broadcast(qx), "tok").select("qk", "ck").distinct()
    pairs = pr.join(F.broadcast(qt), "qk").join(F.broadcast(dt), "ck")

    # materialize scoring inputs ONCE as columns: Catalyst won't CSE
    # subtrees referenced from multiple when() branches. Token arrays
    # (qtok/ctok) were computed per distinct name BEFORE the pair fan-out
    # — reuse them instead of re-tokenizing 5M pair strings.
    inter, rest_a, rest_b = scoring.token_set_parts_from_tokens(F.col("qtok"), F.col("ctok"))
    pairs = (
        pairs.withColumn("__int", inter)
        .withColumn("__ra", rest_a)
        .withColumn("__rb", rest_b)
    )
    raw = scoring.token_set_ratio_from_parts(F.col("__int"), F.col("__ra"), F.col("__rb"))
    scored = pairs.withColumn("raw_score", raw)
    # Reference extract-limit shape (app/etl.py:1272): only the raw-score
    # top-10 per query exist downstream — process.extract(limit=10) is the
    # universe the reference penalizes, banding, and alternatives all draw
    # from. The raw_rnk <= 10 filter also triggers WindowGroupLimit
    # pushdown (per-map-partition top-k BEFORE the shuffle), and the
    # ratio/partial_ratio cross-check (app/etl.py:1281-1294, raw-best row
    # only) costs one Levenshtein per query instead of one per pair.
    raw_w = Window.partitionBy("qk").orderBy(F.desc("raw_score"), F.asc("cname"), F.asc("ck"))
    scored = scored.withColumn("raw_rnk", F.row_number().over(raw_w)).filter(F.col("raw_rnk") <= 10)
    is_best = F.col("raw_rnk") == 1
    # default_process'd strings are consumed only by the cross-check and
    # containment terms BELOW the raw top-10 filter — compute them here,
    # on <= 10 rows per query, not per candidate pair: placed before the
    # window they were evaluated for EVERY pair (2 regexp chains x 5M
    # rows at sf0.1, confirmed in the executed plan) and the resulting
    # strings rode the qk exchange (same result, r13 optimization).
    scored = (
        scored.withColumn("__lq", scoring.process_text("qname"))
        .withColumn("__lc", scoring.process_text("cname"))
    )
    lq, lc = F.col("__lq"), F.col("__lc")
    scored = scored.withColumn("__rplain", F.when(is_best, scoring.ratio(lq, lc)))
    # containment_ratio = 100 on substring containment else plain ratio —
    # reuse the materialized plain ratio instead of a second levenshtein
    r_plain = F.col("__rplain")
    r_part = F.when(lq.contains(lc) | lc.contains(lq), F.lit(100.0)).otherwise(r_plain)
    scored = scored.withColumn(
        "disg",
        F.when(
            is_best, scoring.algorithm_disagreement_penalty(F.col("raw_score"), r_plain, r_part)
        ).otherwise(F.lit(0.0)),
    )
    adj = scored.withColumn(
        "adjusted",
        scoring.apply_match_penalties(F.col("raw_score") - F.col("disg"), F.col("qname"), F.col("cname")),
    )
    return adj


def _fuzzy_ranked(spark: SparkSession, sf: str) -> DataFrame:
    """_fuzzy_adjusted + best-after-penalty rank within the raw top-10
    (reference app/etl.py:1304-1316: strictly-greater walk of the extract
    order, so ties go to the lower raw rank)."""
    adj = _fuzzy_adjusted(spark, sf)
    w = Window.partitionBy("qk").orderBy(F.desc("adjusted"), F.asc("raw_rnk"))
    return adj.withColumn("rnk", F.row_number().over(w))


def _fuzzy_cte() -> str:
    """The DuckDB twin of _fuzzy_ranked, as a WITH-clause prefix."""
    ratio_s0s1 = core.sql_ratio("s0", "s1")
    ratio_s0s2 = core.sql_ratio("s0", "s2")
    ratio_s1s2 = core.sql_ratio("s1", "s2")
    r_plain = core.sql_ratio(core.sql_process("qname"), core.sql_process("cname"))
    r_part = core.sql_containment_ratio("qname", "cname")
    penalties = core.sql_penalties("(raw_score - disg)", "qname", "cname")
    return f"""
WITH q0 AS (
  SELECT p_partkey AS qk, array_to_string(string_split(p_name, ' ')[2:], ' ') AS qname0
  FROM part WHERE p_partkey % 10 = 0
),
q AS (SELECT qk, CASE WHEN qk % 40 = 0 THEN 'organic ' || qname0 ELSE qname0 END AS qname FROM q0),
qt AS (SELECT qk, qname, {core.sql_tokens("qname")} AS qtok FROM q),
dt AS (SELECT p_partkey AS ck, p_name AS cname, {core.sql_tokens("p_name")} AS ctok FROM part),
qx AS (SELECT qk, unnest(qtok) AS tok FROM qt),
dx AS (SELECT ck, unnest(ctok) AS tok FROM dt),
pr AS (SELECT DISTINCT qk, ck FROM qx JOIN dx USING (tok)),
pairs AS (SELECT pr.qk, qt.qname, qt.qtok, pr.ck, dt.cname, dt.ctok FROM pr JOIN qt USING (qk) JOIN dt USING (ck)),
tsr AS (
  SELECT *,
    coalesce(array_to_string(list_sort(list_intersect(qtok, ctok)), ' '), '') AS s_int,
    coalesce(array_to_string(list_filter(qtok, w -> NOT list_contains(ctok, w)), ' '), '') AS rest_a,
    coalesce(array_to_string(list_filter(ctok, w -> NOT list_contains(qtok, w)), ' '), '') AS rest_b
  FROM pairs
),
glued AS (
  SELECT *, s_int AS s0,
    CASE WHEN length(rest_a) = 0 THEN s_int WHEN length(s_int) = 0 THEN rest_a ELSE s_int || ' ' || rest_a END AS s1,
    CASE WHEN length(rest_b) = 0 THEN s_int WHEN length(s_int) = 0 THEN rest_b ELSE s_int || ' ' || rest_b END AS s2
  FROM tsr
),
scored0 AS (
  SELECT *, greatest({ratio_s0s1}, {ratio_s0s2}, {ratio_s1s2}) AS raw_score
  FROM glued
),
rawrank AS (
  SELECT *, row_number() OVER (PARTITION BY qk ORDER BY raw_score DESC, cname ASC, ck ASC) AS raw_rnk
  FROM scored0
  QUALIFY raw_rnk <= 10
),
validated AS (
  SELECT *, CASE WHEN raw_rnk = 1 THEN {r_plain} END AS r_plain,
            CASE WHEN raw_rnk = 1 THEN {r_part} END AS r_part
  FROM rawrank
),
scored1 AS (
  SELECT *, CASE WHEN raw_rnk = 1 AND greatest(abs(raw_score - r_plain), abs(raw_score - r_part)) > {core.S.ALGORITHM_DISAGREEMENT_THRESHOLD}
                 THEN CAST({core.S.ALGORITHM_DISAGREEMENT_PENALTY} AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS disg
  FROM validated
),
adj AS (SELECT *, {penalties} AS adjusted FROM scored1),
ranked AS (
  SELECT qk, qname, ck, cname, raw_score, raw_rnk, disg, adjusted,
         row_number() OVER (PARTITION BY qk ORDER BY adjusted DESC, raw_rnk ASC) AS rnk
  FROM adj
)
"""


def rv01_review_workflow(spark: SparkSession, sf: str) -> DataFrame:
    """The review state machine as an oracle-checked query (F6/F7/F8 +
    the J8-guarded batch approve): the fuzzy chain's review-band winners
    become the pending queue; the high-confidence band (>= 90, < auto
    resolve) auto-approves when the semantic guard passes; everything
    else stays pending. Output: one row per review item with its final
    state."""
    from pyp_etl_pipeline_spark.operators.guard import semantically_valid_match  # noqa: PLC0415
    from pyp_etl_pipeline_spark.schema import AUTO_RESOLVE_THRESHOLD  # noqa: PLC0415

    r = _fuzzy_ranked(spark, sf)
    queue = r.filter(
        (F.col("rnk") == 1)
        & (F.col("adjusted") >= 50.0)
        & (F.col("adjusted") < AUTO_RESOLVE_THRESHOLD)
    ).select(
        F.col("qk").alias("review_key"),
        F.col("qname").alias("item"),
        F.col("cname").alias("suggested_name"),
        F.round("adjusted", 4).alias("score"),
    )
    eligible = (F.col("score") >= 90.0) & semantically_valid_match("item", "suggested_name")
    return queue.select(
        "review_key",
        "item",
        "suggested_name",
        "score",
        F.when(eligible, F.lit("approved")).otherwise(F.lit("pending")).alias("state"),
        (F.col("score") >= 90.0).alias("high_confidence"),
    )


def _rv01_sql() -> str:
    from pyp_etl_pipeline_spark.schema import AUTO_RESOLVE_THRESHOLD  # noqa: PLC0415

    guard = core.sql_semantic_guard("lower(trim(item))", "lower(trim(suggested_name))")
    return (
        _fuzzy_cte()
        + f""",
queue AS (
  SELECT qk AS review_key, qname AS item, cname AS suggested_name, round(adjusted, 4) AS score
  FROM ranked WHERE rnk = 1 AND adjusted >= 50.0 AND adjusted < {AUTO_RESOLVE_THRESHOLD}
)
SELECT review_key, item, suggested_name, score,
       CASE WHEN score >= 90.0 AND {guard} THEN 'approved' ELSE 'pending' END AS state,
       score >= 90.0 AS high_confidence
FROM queue
"""
    )


RV01_SQL = _rv01_sql()


def j02_fuzzy_topk(spark: SparkSession, sf: str) -> DataFrame:
    r = _fuzzy_ranked(spark, sf)
    return r.filter(F.col("rnk") <= 5).select(
        F.col("qk").alias("query_key"),
        F.col("ck").alias("cand_key"),
        F.col("cname").alias("cand_name"),
        F.col("rnk").cast("long").alias("match_rank"),
        F.round("adjusted", 4).alias("score"),
    )


J02_SQL = (
    _fuzzy_cte()
    + """
SELECT qk AS query_key, ck AS cand_key, cname AS cand_name, rnk AS match_rank, round(adjusted, 4) AS score
FROM ranked WHERE rnk <= 5
"""
)


def j02b_typo_fallback(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end ``similarity_resolve`` with the char-3-gram fallback:
    dim = distinct first tokens of part names; items = those tokens with
    their 2nd character dropped (token-disjoint typos that ONLY the
    fallback blocking can reach — the reference's full-pool scan surfaces
    them for review, app/etl.py:1270-1272) plus the a-m titles verbatim
    (exact path). Unlike j02, which inlines its own chain, this
    oracle-checks the real operator including exact short-circuit,
    blocking fallback, and the no-candidate reject branch."""
    part = load_table(spark, sf, "part")
    dim = (
        part.select(F.explode(F.split(F.lower("p_name"), " ")).alias("title"), "p_partkey")
        .groupBy("title")
        .agg(F.min("p_partkey").alias("ext_id"))
    )
    typos = dim.select(
        F.concat(F.substring("title", 1, 1), F.expr("substring(title, 3)")).alias("item")
    )
    exacts = dim.filter(F.col("title").rlike("^[a-m]")).select(F.col("title").alias("item"))
    items = typos.unionByName(exacts).distinct()
    out = resolve.similarity_resolve(items, dim, item_col="item", title_col="title", id_col="ext_id")
    return out.select(
        "item",
        "matched_title",
        F.col("suggested_id").cast("long").alias("suggested_id"),
        F.round("score", 4).alias("score"),
        "band",
        "resolved",
    )


def _j02b_sql() -> str:
    grams = (
        "list_distinct(list_transform(range(1, greatest(length({s}) - 2, 1) + 1),"
        " i -> substring({s}, i, 3)))"
    )
    ratio_s0s1 = core.sql_ratio("s0", "s1")
    ratio_s0s2 = core.sql_ratio("s0", "s2")
    ratio_s1s2 = core.sql_ratio("s1", "s2")
    r_plain = core.sql_ratio(core.sql_process("item"), core.sql_process("title"))
    r_part = core.sql_containment_ratio("item", "title")
    penalties = core.sql_penalties("(raw_score - disg)", "item", "title")
    band = core.sql_band("adjusted")
    return f"""
WITH dim AS (
  SELECT title, min(p_partkey) AS ext_id
  FROM (SELECT unnest(string_split(lower(p_name), ' ')) AS title, p_partkey FROM part)
  GROUP BY 1
),
items AS (
  SELECT DISTINCT item FROM (
    SELECT substring(title, 1, 1) || substring(title, 3) AS item FROM dim
    UNION ALL
    SELECT title AS item FROM dim WHERE regexp_matches(title, '^[a-m]')
  )
),
exact AS (
  SELECT i.item, d.ext_id, d.title
  FROM items i LEFT JOIN dim d ON lower(trim(i.item)) = d.title
),
hits AS (
  SELECT item, title AS matched_title, ext_id AS suggested_id,
         100.0 AS score, 'auto_resolve' AS band, TRUE AS resolved
  FROM exact WHERE ext_id IS NOT NULL
),
misses AS (SELECT item FROM exact WHERE ext_id IS NULL),
qt AS (SELECT item, {core.sql_tokens("item")} AS qtok FROM misses),
dt AS (SELECT title, ext_id, {core.sql_tokens("title")} AS ctok FROM dim),
tok_pairs AS (
  SELECT DISTINCT q.item, d.title, d.ext_id
  FROM (SELECT item, unnest(qtok) AS tok FROM qt) q
  JOIN (SELECT title, ext_id, unnest(ctok) AS tok FROM dt) d USING (tok)
),
unc AS (
  SELECT item FROM misses
  WHERE item NOT IN (SELECT DISTINCT item FROM tok_pairs)
),
gram_pairs AS (
  SELECT DISTINCT q.item, d.title, d.ext_id
  FROM (SELECT item, unnest({grams.format(s="lower(trim(item))")}) AS g FROM unc) q
  JOIN (SELECT title, ext_id, unnest({grams.format(s="lower(trim(title))")}) AS g FROM dim) d USING (g)
),
pairs AS (SELECT * FROM tok_pairs UNION SELECT * FROM gram_pairs),
sp AS (
  SELECT p.item, p.title, p.ext_id, qt.qtok, dt.ctok
  FROM pairs p JOIN qt USING (item) JOIN dt ON p.title = dt.title AND p.ext_id = dt.ext_id
),
tsr AS (
  SELECT *,
    coalesce(array_to_string(list_sort(list_intersect(qtok, ctok)), ' '), '') AS s_int,
    coalesce(array_to_string(list_filter(qtok, w -> NOT list_contains(ctok, w)), ' '), '') AS rest_a,
    coalesce(array_to_string(list_filter(ctok, w -> NOT list_contains(qtok, w)), ' '), '') AS rest_b
  FROM sp
),
glued AS (
  SELECT *, s_int AS s0,
    CASE WHEN length(rest_a) = 0 THEN s_int WHEN length(s_int) = 0 THEN rest_a ELSE s_int || ' ' || rest_a END AS s1,
    CASE WHEN length(rest_b) = 0 THEN s_int WHEN length(s_int) = 0 THEN rest_b ELSE s_int || ' ' || rest_b END AS s2
  FROM tsr
),
scored0 AS (
  SELECT *, greatest({ratio_s0s1}, {ratio_s0s2}, {ratio_s1s2}) AS raw_score
  FROM glued
),
rawrank AS (
  SELECT *, row_number() OVER (PARTITION BY item ORDER BY raw_score DESC, title ASC, ext_id ASC) AS raw_rnk
  FROM scored0
  QUALIFY raw_rnk <= 10
),
validated AS (
  SELECT *, CASE WHEN raw_rnk = 1 THEN {r_plain} END AS r_plain,
            CASE WHEN raw_rnk = 1 THEN {r_part} END AS r_part
  FROM rawrank
),
scored1 AS (
  SELECT *, CASE WHEN raw_rnk = 1 AND greatest(abs(raw_score - r_plain), abs(raw_score - r_part)) > {core.S.ALGORITHM_DISAGREEMENT_THRESHOLD}
                 THEN CAST({core.S.ALGORITHM_DISAGREEMENT_PENALTY} AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS disg
  FROM validated
),
adj AS (SELECT *, {penalties} AS adjusted FROM scored1),
best AS (
  SELECT item, title, ext_id, adjusted,
         row_number() OVER (PARTITION BY item ORDER BY adjusted DESC, raw_rnk ASC) AS rnk
  FROM adj
),
fuzzy_out AS (
  SELECT item,
         CASE WHEN {band} <> 'reject' THEN title END AS matched_title,
         ext_id AS suggested_id,
         round(adjusted, 4) AS score,
         {band} AS band,
         ({band} = 'auto_resolve') AS resolved
  FROM best WHERE rnk = 1
),
no_cand AS (
  SELECT item, NULL AS matched_title, NULL AS suggested_id,
         0.0 AS score, 'reject' AS band, FALSE AS resolved
  FROM misses WHERE item NOT IN (SELECT item FROM fuzzy_out)
)
SELECT item, matched_title, CAST(suggested_id AS BIGINT) AS suggested_id,
       CAST(score AS DOUBLE) AS score, band, resolved
FROM (
  SELECT * FROM hits
  UNION ALL SELECT * FROM fuzzy_out
  UNION ALL SELECT * FROM no_cand
)
"""


J02B_SQL = _j02b_sql()


def j13_reject_payload(spark: SparkSession, sf: str) -> DataFrame:
    """Reject-band MatchReview fidelity (reference app/etl.py:1360-1374):
    auto-rejected items still persist the top guess — suggested_name
    (falling back to the item text when blocking found nothing),
    suggested_ext_id — and an EMPTY alternatives list, not a missing
    one. Same dim/items construction as j02b; pins the reject rows'
    payload that j02b's columns don't cover."""
    part = load_table(spark, sf, "part")
    dim = (
        part.select(F.explode(F.split(F.lower("p_name"), " ")).alias("title"), "p_partkey")
        .groupBy("title")
        .agg(F.min("p_partkey").alias("ext_id"))
    )
    typos = dim.select(
        F.concat(F.substring("title", 1, 1), F.expr("substring(title, 3)")).alias("item")
    )
    exacts = dim.filter(F.col("title").rlike("^[a-m]")).select(F.col("title").alias("item"))
    items = typos.unionByName(exacts).distinct()
    out = resolve.similarity_resolve(items, dim, item_col="item", title_col="title", id_col="ext_id")
    return out.filter(F.col("band") == "reject").select(
        "item",
        "suggested_name",
        F.col("suggested_id").cast("long").alias("suggested_ext_id"),
        F.round("score", 4).alias("score"),
        F.size("alternatives").cast("long").alias("n_alternatives"),
    )


def _j13_sql() -> str:
    """Oracle: j02b's CTE chain, reject rows only, with the reject-band
    payload columns (suggested_name falls back to the item text; the
    alternatives list is [] so its cardinality is 0)."""
    base = _j02b_sql()
    head, _tail = base.rsplit("SELECT item, matched_title", 1)
    band = core.sql_band("adjusted")
    return (
        head
        + f"""SELECT item, coalesce(title, item) AS suggested_name,
       CAST(ext_id AS BIGINT) AS suggested_ext_id,
       CAST(score AS DOUBLE) AS score, CAST(0 AS BIGINT) AS n_alternatives
FROM (
  SELECT item, title, ext_id, round(adjusted, 4) AS score, {band} AS band
  FROM best WHERE rnk = 1
  UNION ALL
  SELECT item, NULL AS title, NULL AS ext_id, 0.0 AS score, 'reject' AS band
  FROM misses WHERE item NOT IN (SELECT item FROM fuzzy_out)
)
WHERE band = 'reject'
"""
    )


def j04_penalty_bands(spark: SparkSession, sf: str) -> DataFrame:
    r = _fuzzy_ranked(spark, sf)
    return r.filter((F.col("qk") % 50 == 0) & (F.col("rnk") <= 10)).select(
        F.col("qk").alias("query_key"),
        F.col("ck").alias("cand_key"),
        F.round("raw_score", 4).alias("raw_score"),
        F.round("disg", 1).alias("disagreement_penalty"),
        F.round("adjusted", 4).alias("adjusted_score"),
        scoring.band("adjusted").alias("band"),
    )


J04_SQL = (
    _fuzzy_cte()
    + f"""
SELECT qk AS query_key, ck AS cand_key, round(raw_score, 4) AS raw_score,
       round(disg, 1) AS disagreement_penalty, round(adjusted, 4) AS adjusted_score,
       {core.sql_band("adjusted")} AS band
FROM ranked WHERE qk % 50 = 0 AND rnk <= 10
"""
)


def j07_alternatives(spark: SparkSession, sf: str) -> DataFrame:
    """Reference alternatives walk (app/etl.py:1342-1351): iterate the
    extract (raw) order, skip the chosen best-after-penalty, keep
    adjusted >= the auto-reject threshold, stop after 3."""
    r = _fuzzy_ranked(spark, sf)
    alt_w = Window.partitionBy("qk").orderBy(F.asc("raw_rnk"))
    return (
        r.filter((F.col("rnk") >= 2) & (F.col("adjusted") >= 50.0))
        .withColumn("alt_rank", F.row_number().over(alt_w))
        .filter(F.col("alt_rank") <= 3)
        .select(
            F.col("qk").alias("query_key"),
            F.col("alt_rank").cast("long").alias("alt_rank"),
            F.col("ck").alias("cand_key"),
            F.round("adjusted", 4).alias("score"),
        )
    )


J07_SQL = (
    _fuzzy_cte()
    + """
SELECT qk AS query_key, alt_rank, ck AS cand_key, round(adjusted, 4) AS score
FROM (
  SELECT qk, ck, adjusted,
         row_number() OVER (PARTITION BY qk ORDER BY raw_rnk ASC) AS alt_rank
  FROM ranked WHERE rnk >= 2 AND adjusted >= 50.0
)
WHERE alt_rank <= 3
"""
)


def a01_band_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Band histogram of each query's best candidate.

    Needs only the rank-1 row per query, so instead of the sort-based
    window it takes ``min(struct(-adjusted, raw_rnk))`` per qk — the
    lexicographic struct order equals the final rank's (adjusted DESC,
    raw_rnk ASC), but a hash aggregate combines map-side: the shuffle
    carries one partial row per (partition, qk) instead of sorting the
    retained candidates again. Same result as filter(rnk = 1), checked
    by the oracle.
    """
    adj = _fuzzy_adjusted(spark, sf)
    best = adj.groupBy("qk").agg(
        F.min(F.struct((-F.col("adjusted")).alias("na"), "raw_rnk")).alias("b")
    )
    return (
        best.select(scoring.band(-F.col("b.na")).alias("band"))
        .groupBy("band")
        .agg(F.count("*").alias("n_items"))
    )


A01_SQL = (
    _fuzzy_cte()
    + f"""
SELECT {core.sql_band("adjusted")} AS band, count(*) AS n_items
FROM ranked WHERE rnk = 1 GROUP BY 1
"""
)


# --------------------------------------------------------------------------
# O: top-k / latest per group
# --------------------------------------------------------------------------

def o01_topk_orders_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("order_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("order_rank") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "order_rank")
    )


O01_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, order_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS order_rank
  FROM orders
) WHERE order_rank <= 3
"""


def o04_latest_order_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


O04_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# W: event-time windows
# --------------------------------------------------------------------------

def w01_tumbling_hourly(spark: SparkSession, sf: str) -> DataFrame:
    return windows.tumbling_agg(load_table(spark, sf, "events"))


W01_SQL = f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, {core.sql_exact_sum("value")} AS sum_value,
       {core.sql_exact_avg("value")} AS avg_value
FROM events GROUP BY 1, 2
"""


def w02_sliding_1h_15m(spark: SparkSession, sf: str) -> DataFrame:
    return windows.sliding_agg(load_table(spark, sf, "events"))


W02_SQL = f"""
SELECT CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 900) * 900 - k * 900 AS BIGINT) AS window_start,
       event_type, count(*) AS n_events, {core.sql_exact_sum("value")} AS sum_value
FROM events, generate_series(0, 3) t(k)
GROUP BY 1, 2
"""


def w03_sessionize_30m(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands sessionization over the events table.

    Idempotent-ingest contract (caught by the sf0.1 --dupes battery,
    r10): a full-row duplicate AT a session boundary makes the
    lag-flag -> running-sum pattern instance-based — Spark evaluates
    both expressions over ONE sort in one WindowExec (deterministic),
    but DuckDB's two window phases may re-sort tied identical rows
    between them, attaching the boundary flag to different copies run
    to run (user 908, sf0.1: sessions (2,2) vs (3,1)). Collapse copies
    up front in BOTH engines — value-based and deterministic; identity
    on already-unique driver data. The dedup rides the window's own
    user_id partitioning (HashPartitioning(user_id) satisfies the
    dropDuplicates clustering on its superset keys), so the collapse
    costs ZERO extra shuffles — one events exchange total."""
    ev = (
        load_table(spark, sf, "events")
        .select("user_id", "event_id", "ts")
        .repartition("user_id")
        .dropDuplicates(["user_id", "event_id", "ts"])
    )
    return windows.sessionize(ev)


W03_SQL = """
WITH e AS (SELECT DISTINCT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS ep
           FROM events),
     l AS (SELECT *, ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap FROM e),
     s AS (SELECT *, CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM l)
SELECT user_id, session_seq, min(ep) AS session_start, max(ep) AS session_end,
       count(*) AS n_events, max(ep) - min(ep) AS duration_s
FROM s GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# DD: dedup suite
# --------------------------------------------------------------------------

def dd01_exact_dup_histogram(spark: SparkSession, sf: str) -> DataFrame:
    d = load_corpus(spark, sf, "documents")
    fps = d.select(dedup.fingerprint("text").alias("fp"))
    return (
        fps.groupBy("fp")
        .agg(F.count("*").alias("dup_count"))
        .groupBy("dup_count")
        .agg(F.count("*").alias("n_fingerprints"))
    )


DD01_SQL = f"""
WITH fp AS (SELECT md5({core.sql_normalized_text("text")}) AS f, count(*) AS c FROM documents GROUP BY 1)
SELECT c AS dup_count, count(*) AS n_fingerprints FROM fp GROUP BY 1
"""


def dd02_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.shingle_pairs_jaccard(load_corpus(spark, sf, "documents"), threshold=0.5)


_SHINGLE_CTE = f"""
WITH t AS (SELECT doc_id, string_split({core.sql_normalized_text("text")}, ' ') AS toks FROM documents),
     s AS (SELECT doc_id, {core.sql_shingles("toks")} AS sh FROM t)
"""

DD02_SQL = (
    _SHINGLE_CTE
    + """,
e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM s),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b, count(*) AS shared
  FROM e a JOIN e b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, round(shared / (n_a + n_b - shared), 6) AS jaccard
FROM p WHERE shared / (n_a + n_b - shared) >= 0.5
"""
)


def dd04_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components over the dd02 near-dup pair graph: the step
    that turns pairwise candidates into keep-one-per-cluster decisions.
    Spark side: iterative hash-min label propagation
    (``dedup.dup_clusters``); oracle: recursive-CTE transitive closure +
    min-reachable-id (exact for the small sf, while the Spark loop is
    the O(diameter)-rounds shape that survives 100 TB)."""
    pairs = dedup.shingle_pairs_jaccard(load_corpus(spark, sf, "documents"), threshold=0.5)
    return dedup.dup_clusters(pairs)


DD04_SQL = (
    _SHINGLE_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM s),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b, count(*) AS shared
  FROM e a JOIN e b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
good AS (SELECT id_a, id_b FROM p WHERE shared / (n_a + n_b - shared) >= 0.5),
edges AS (SELECT id_a AS a, id_b AS b FROM good UNION SELECT id_b, id_a FROM good),
reach AS (
  SELECT DISTINCT a, a AS b FROM edges
  UNION
  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
)
SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
"""
)


def dd07_neardup_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """The production near-dup dedup flow composed END-TO-END: Jaccard
    candidate pairs (dd02) -> connected components (dd04) -> keep ONE
    representative per cluster (the hash-min label IS the min member id,
    so representative election is a filter, not another aggregate) ->
    rebuild the surviving corpus (cluster reps + untouched singletons
    via anti-join). Output: every surviving doc with the size of the
    duplicate cluster it represents (1 = was never a candidate). The
    twin composes the identical stages over the recursive-CTE closure,
    so the composition semantics — who survives, with what cluster
    size — are hash-certified."""
    d = load_corpus(spark, sf, "documents")
    pairs = dedup.shingle_pairs_jaccard(d, threshold=0.5)
    clusters = dedup.dup_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    reps = (
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .join(sizes, "cluster_id")
        .select("doc_id", "cluster_size")
    )
    singles = d.join(clusters, "doc_id", "left_anti").select(
        "doc_id", F.lit(1).cast("long").alias("cluster_size")
    )
    return singles.unionByName(reps)


DD07_SQL = f"""
WITH c AS ({DD04_SQL}),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM c GROUP BY 1)
SELECT d.doc_id, CAST(1 AS BIGINT) AS cluster_size
FROM documents d ANTI JOIN c ON d.doc_id = c.doc_id
UNION ALL
SELECT c.doc_id, CAST(sizes.cluster_size AS BIGINT)
FROM c JOIN sizes USING (cluster_id) WHERE c.doc_id = c.cluster_id
"""


def dc01_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: every 25th document plays the eval set;
    the rest of the corpus is flagged when it shares >= 1 word 3-gram
    with any eval doc. The eval shingle set is broadcast — the corpus
    never shuffles (the standard test-set-leakage guard for a training
    corpus)."""
    d = load_corpus(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 25 == 0)
    corpus = d.filter(F.col("doc_id") % 25 != 0)
    return dedup.decontaminate(corpus, bench).withColumnRenamed("id", "doc_id")


DC01_SQL = (
    _SHINGLE_CTE
    + """,
bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE doc_id % 25 = 0),
corpus AS (SELECT doc_id, sh FROM s WHERE doc_id % 25 <> 0),
hits AS (
  SELECT c.doc_id, count(*) AS n
  FROM (SELECT doc_id, unnest(sh) AS shingle FROM corpus) c
  JOIN bench USING (shingle)
  GROUP BY 1
)
SELECT corpus.doc_id,
       CAST(coalesce(hits.n, 0) AS BIGINT) AS n_overlapping_grams,
       coalesce(hits.n, 0) >= 1 AS contaminated
FROM corpus LEFT JOIN hits USING (doc_id)
"""
)


def dd03_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(load_corpus(spark, sf, "documents"), threshold=0.5)


def _minhash_sig_sql(src: str, suffix: str) -> str:
    """CTE fragment computing the banded minhash signature table
    ``sig_{suffix}(doc_id, band, sig)`` for a shingle-set CTE ``src`` —
    the same b x r Kirsch-Mitzenmacher family as the Spark side, shared
    by the full (dd03) and incremental (dd05) oracles."""
    b, r, p = dedup.LSH_BANDS, dedup.LSH_ROWS, dedup.LSH_PRIME
    mins = ",\n  ".join(f"min((x1 + {i + 1} * (x2 + 1)) % {p}) AS h{i}" for i in range(b * r))
    band_structs = ", ".join(
        "struct_pack(band := {b}, sig := {sig})".format(
            b=bi,
            sig=" || ':' || ".join(f"h{bi * r + ri}" for ri in range(r)),
        )
        for bi in range(b)
    )
    return f"""
hx_{suffix} AS (SELECT doc_id, unnest(sh) AS shingle FROM {src}),
hxi_{suffix} AS (
  SELECT doc_id,
         ('0x' || substring(md5(shingle), 1, 7))::BIGINT AS x1,
         ('0x' || substring(md5(shingle), 8, 7))::BIGINT AS x2
  FROM hx_{suffix}
),
sigw_{suffix} AS (SELECT doc_id,
  {mins}
  FROM hxi_{suffix} GROUP BY doc_id),
sig_{suffix} AS (
  SELECT doc_id, u.band AS band, u.sig AS sig
  FROM sigw_{suffix}, unnest([{band_structs}]) AS t(u)
)"""


def _dd03_sql() -> str:
    """DuckDB twin of the b x r banded MinHash-LSH (dedup.LSH_BANDS x
    dedup.LSH_ROWS Kirsch-Mitzenmacher hash family derived from one md5
    per shingle — signatures bit-identical to Spark)."""
    return (
        _SHINGLE_CTE
        + ","
        + _minhash_sig_sql("s", "all")
        + """,
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig_all a JOIN sig_all b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
ver AS (
  SELECT id_a, id_b, len(list_intersect(sa.sh, sb.sh)) AS shared, len(sa.sh) AS na, len(sb.sh) AS nb
  FROM cand JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, round(shared / (na + nb - shared), 6) AS jaccard
FROM ver WHERE shared / (na + nb - shared) >= 0.5
"""
    )


DD03_SQL = _dd03_sql()


def dd05_incremental_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental MinHash-LSH dedup: documents with doc_id % 5 == 0 play
    the NEW ingest batch, the rest the already-indexed corpus. Candidates
    come from joining the batch's band signatures against the corpus
    signature index (plus a within-batch self-join) — the corpus is never
    self-joined, which is the whole point at 100 TB: per-ingest cost is
    O(batch) + collisions, not O(corpus^2 / buckets)."""
    d = load_corpus(spark, sf, "documents")
    new_docs = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    return dedup.minhash_lsh_pairs_incremental(new_docs, corpus, threshold=0.5)


def _dd05_sql() -> str:
    """DuckDB twin of the incremental batch-vs-index MinHash dedup."""
    return (
        _SHINGLE_CTE
        + """,
newdocs AS (SELECT * FROM s WHERE doc_id % 5 = 0),
olddocs AS (SELECT * FROM s WHERE doc_id % 5 <> 0),"""
        + _minhash_sig_sql("newdocs", "n")
        + ","
        + _minhash_sig_sql("olddocs", "o")
        + """,
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, 'corpus' AS source
  FROM sig_n a JOIN sig_o b ON a.band = b.band AND a.sig = b.sig
  UNION ALL
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, 'batch' AS source
  FROM sig_n a JOIN sig_n b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
ver AS (
  SELECT id_a, id_b, source,
         len(list_intersect(sa.sh, sb.sh)) AS shared, len(sa.sh) AS na, len(sb.sh) AS nb
  FROM cand JOIN newdocs sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, source, round(shared / (na + nb - shared), 6) AS jaccard
FROM ver WHERE shared / (na + nb - shared) >= 0.5
"""
    )


DD05_SQL = _dd05_sql()


def dd06_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide duplicate-span removal (C4-style line dedup adapted to
    unstructured text): 10-word spans deduped across the whole corpus,
    first occurrence kept, documents rebuilt in place
    (``dedup.span_dedup``). Spark elects first occurrences with a
    map-side-combinable ``min(struct)`` aggregate; the DuckDB twin uses
    the single-node ``row_number() OVER (PARTITION BY span)`` — matching
    rebuilt-text hashes prove the distributed election picks exactly the
    sequential winners."""
    out = dedup.span_dedup(load_corpus_unique(spark, sf, "documents"), k=10)
    return out.select("doc_id", "n_spans", "n_kept", F.md5("text").alias("text_fp"))


DD06_SQL = f"""
WITH b AS (
  SELECT doc_id, toks, greatest(CAST(ceil(len(toks) / 10.0) AS INT), 1) AS n_spans
  FROM (SELECT doc_id, string_split({core.sql_normalized_text("text")}, ' ') AS toks
        FROM (SELECT DISTINCT * FROM documents) WHERE text IS NOT NULL)
),
sp AS (
  SELECT doc_id, i AS idx, array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' ') AS span
  FROM b, unnest(generate_series(0, n_spans - 1)) AS r(i)
),
k AS (
  SELECT doc_id, idx, span
  FROM (SELECT doc_id, idx, span,
               row_number() OVER (PARTITION BY span ORDER BY doc_id, idx) AS rn FROM sp)
  WHERE rn = 1
),
r AS (
  SELECT doc_id, count(*) AS n_kept, string_agg(span, ' ' ORDER BY idx) AS txt
  FROM k GROUP BY 1
)
SELECT b.doc_id, CAST(b.n_spans AS BIGINT) AS n_spans,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       md5(coalesce(r.txt, '')) AS text_fp
FROM b LEFT JOIN r USING (doc_id)
"""


def dc02_decontaminate_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Span-level decontamination (``dedup.decontaminate_spans``): every
    25th doc plays the eval set; contaminated 10-word spans are REMOVED
    from the remaining docs and the text rebuilt — surgical removal vs
    dc01's doc-level flags. Broadcast bench shingles; corpus never
    shuffles before the anti-join."""
    d = load_corpus(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 25 == 0)
    corpus = d.filter(F.col("doc_id") % 25 != 0)
    out = dedup.decontaminate_spans(corpus, bench)
    return out.select("doc_id", "n_spans", "n_clean", F.md5("text").alias("text_fp"))


def _dc02_sql() -> str:
    span_toks = "string_split(span, ' ')"
    return f"""
WITH t AS (SELECT doc_id, string_split({core.sql_normalized_text("text")}, ' ') AS toks
           FROM documents WHERE text IS NOT NULL),
bench AS (
  SELECT DISTINCT unnest({core.sql_shingles("toks")}) AS shingle FROM t WHERE doc_id % 25 = 0
),
b AS (SELECT doc_id, toks, greatest(CAST(ceil(len(toks) / 10.0) AS INT), 1) AS n_spans
      FROM t WHERE doc_id % 25 <> 0),
sp AS (
  SELECT doc_id, i AS idx, array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' ') AS span
  FROM b, unnest(generate_series(0, n_spans - 1)) AS r(i)
),
cont AS (
  SELECT DISTINCT doc_id, idx
  FROM (SELECT doc_id, idx, unnest({core.sql_shingles(span_toks)}) AS shingle FROM sp)
  JOIN bench USING (shingle)
),
clean AS (SELECT sp.* FROM sp ANTI JOIN cont USING (doc_id, idx)),
r AS (SELECT doc_id, count(*) AS n_clean, string_agg(span, ' ' ORDER BY idx) AS txt
      FROM clean GROUP BY 1)
SELECT b.doc_id, CAST(b.n_spans AS BIGINT) AS n_spans,
       CAST(coalesce(r.n_clean, 0) AS BIGINT) AS n_clean,
       md5(coalesce(r.txt, '')) AS text_fp
FROM b LEFT JOIN r USING (doc_id)
"""


DC02_SQL = _dc02_sql()


def sh01_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs (Arrow pandas-UDF fingerprints). The DuckDB
    twin reproduces the md5 bit-vote fingerprints exactly (verified
    bit-for-bit) and applies the SAME 4x16-bit chunk-blocking condition,
    so even hamming 4-6 pairs that blocking misses match across engines."""
    return dedup.simhash_pairs(load_corpus(spark, sf, "documents"), max_hamming=6)


def _sh01_sql() -> str:
    votes_lo = ", ".join(
        f"sum(CASE WHEN (lo >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(32)
    )
    votes_hi = ", ".join(
        f"sum(CASE WHEN (hi >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b + 32}" for b in range(32)
    )
    fp_lo = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)" for b in range(32))
    fp_hi = " + ".join(f"(CASE WHEN v{b + 32} > 0 THEN {1 << b}::BIGINT ELSE 0 END)" for b in range(32))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tok
  FROM documents
),
h AS (
  SELECT doc_id,
         ('0x' || substring(md5(tok), 1, 8))::BIGINT AS hi,
         ('0x' || substring(md5(tok), 9, 8))::BIGINT AS lo
  FROM toks
),
v AS (SELECT doc_id, {votes_lo}, {votes_hi} FROM h GROUP BY doc_id),
fp AS (SELECT doc_id, ({fp_lo}) AS fl, ({fp_hi}) AS fh FROM v),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.fl, b.fl)) + bit_count(xor(a.fh, b.fh)) AS hamming,
         ((a.fl & 65535) = (b.fl & 65535)
          OR ((a.fl >> 16) & 65535) = ((b.fl >> 16) & 65535)
          OR (a.fh & 65535) = (b.fh & 65535)
          OR ((a.fh >> 16) & 65535) = ((b.fh >> 16) & 65535)) AS chunk_match
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 6 AND chunk_match
"""


SH01_SQL = _sh01_sql()


# --------------------------------------------------------------------------
# ANN: embedding similarity search
# --------------------------------------------------------------------------

def ann01_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_corpus(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.brute_force_topk(emb, q, k=5)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("long").alias("match_rank"), "cosine")


ANN01_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 100 = 0),
     scored AS (
       SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
              list_cosine_similarity(qv, e.embedding::DOUBLE[]) AS cos
       FROM q, embeddings e WHERE e.vec_id <> q.qid
     )
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS match_rank,
       round(cos, 6) AS cosine
FROM scored
QUALIFY match_rank <= 5
"""


def ann02_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_corpus(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.lsh_topk(emb, q, k=5, n_planes=4, dim=64)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("long").alias("match_rank"), "cosine")


def _ann02_sql() -> str:
    planes = _hyperplanes(64, 4)
    def plane_lit(p: list[float]) -> str:
        return "[" + ", ".join(repr(v) for v in p) + "]::DOUBLE[]"
    bucket = "(" + " + ".join(
        f"(CASE WHEN list_dot_product(v, {plane_lit(p)}) >= 0 THEN {1 << i} ELSE 0 END)" for i, p in enumerate(planes)
    ) + ")"
    return f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
     bucketed AS (SELECT vec_id, v, {bucket} AS bucket FROM vecs),
     q AS (SELECT vec_id AS qid, v AS qv, bucket FROM bucketed WHERE vec_id % 100 = 0),
     scored AS (
       SELECT q.qid AS query_id, b.vec_id AS neighbor_id,
              list_cosine_similarity(qv, b.v) AS cos
       FROM q JOIN bucketed b USING (bucket) WHERE b.vec_id <> q.qid
     )
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS match_rank,
       round(cos, 6) AS cosine
FROM scored
QUALIFY match_rank <= 5
"""


ANN02_SQL = _ann02_sql()


def nd01_embed_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """LSH sign-bucketed near-dup pairs — the scale path (same-bucket
    candidates only, no O(N^2) self-join; the oracle twin reproduces the
    bucketing). The exact all-pairs mode remains available as
    ``cosine_neardup_pairs(..., exact=True)`` and is pinned against the
    bucketed path by ``tests/test_similarity.py`` (subset + exact-dup
    recall); it is deliberately NOT the registered plan."""
    emb = load_corpus(spark, sf, "embeddings")
    # n_planes pinned so the static SQL twin reproduces the buckets;
    # outside oracle-land the default (None) derives planes from the
    # corpus size (similarity.derive_n_planes)
    return similarity.cosine_neardup_pairs(emb, threshold=0.25, exact=False, n_planes=4)


def _nd01_sql() -> str:
    planes = _hyperplanes(64, 4)

    def plane_lit(p: list[float]) -> str:
        return "[" + ", ".join(repr(v) for v in p) + "]::DOUBLE[]"

    bucket = "(" + " + ".join(
        f"(CASE WHEN list_dot_product(e, {plane_lit(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ) + ")"
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
     bucketed AS (SELECT vec_id, e, {bucket} AS bucket FROM v)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.e, b.e), 6) AS cosine
FROM bucketed a JOIN bucketed b USING (bucket)
WHERE a.vec_id < b.vec_id AND list_cosine_similarity(a.e, b.e) >= 0.25
"""


ND01_SQL = _nd01_sql()


# --------------------------------------------------------------------------
# TX: text analysis
# --------------------------------------------------------------------------

def tx01_quality_features(spark: SparkSession, sf: str) -> DataFrame:
    return textan.quality_features(load_corpus(spark, sf, "documents"))


_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')"
_STOPS = "[" + ", ".join(f"'{s}'" for s in textan.ENGLISH_STOPWORDS) + "]"
TX01_SQL = f"""
WITH feats AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
    round(CASE WHEN length(text) = 0 THEN 0.0
          ELSE (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text) END, 6) AS punct_ratio,
    round(CASE WHEN len({_TOKS}) = 0 THEN 0.0
          ELSE len(list_filter(list_transform({_TOKS}, w -> lower(w)), w -> list_contains({_STOPS}, w))) / len({_TOKS}) END, 6) AS stopword_ratio,
    round(CASE WHEN len({_TOKS}) = 0 THEN 0.0
          ELSE list_sum(list_transform({_TOKS}, w -> length(w))) / len({_TOKS}) END, 6) AS mean_word_len
  FROM documents
)
SELECT doc_id, n_chars, n_tokens, punct_ratio, stopword_ratio, mean_word_len,
  round(
    (CASE WHEN n_tokens >= 20 THEN CAST(0.4 AS DOUBLE) ELSE n_tokens / CAST(50.0 AS DOUBLE) END)
    + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.3
    + least(stopword_ratio * 3.0, 1.0) * 0.3, 6) AS quality_score
FROM feats
"""


def tx02_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    d = load_corpus(spark, sf, "documents")
    return d.select(
        "doc_id",
        textan.token_count("text").cast("long").alias("n_ws_tokens"),
        textan.bpeish_token_count("text").cast("long").alias("n_bpeish_tokens"),
    )


TX02_SQL = f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{textan.BPE_ISH_PATTERN}')) AS BIGINT) AS n_bpeish_tokens
FROM documents
"""


def tx03_language_id(spark: SparkSession, sf: str) -> DataFrame:
    return textan.language_scores(load_corpus(spark, sf, "documents"))


def _tx03_sql() -> str:
    toks_lower = f"list_transform({_TOKS}, w -> lower(w))"
    hits = []
    for lang, markers in textan.LANGUAGE_MARKERS.items():
        arr = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        hits.append(f"CAST(len(list_filter({toks_lower}, w -> list_contains({arr}, w))) AS INTEGER) AS hits_{lang}")
    langs = list(textan.LANGUAGE_MARKERS)
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    guess = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " ELSE 'und' END"
    return f"""
WITH h AS (SELECT doc_id, {', '.join(hits)} FROM documents)
SELECT doc_id, {', '.join(f'hits_{lang}' for lang in langs)}, {guess} AS lang_guess FROM h
"""


TX03_SQL = _tx03_sql()


def tx04_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    return textan.document_fingerprints(load_corpus(spark, sf, "documents"))


TX04_SQL = f"""
WITH n AS (SELECT doc_id, string_split({core.sql_normalized_text("text")}, ' ') AS toks,
                  {core.sql_normalized_text("text")} AS nt
           FROM documents)
SELECT doc_id, md5(nt) AS content_fp, md5(array_to_string(toks[1:5], ' ')) AS prefix_fp
FROM n
"""


def tx05_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Within-doc repeated-n-gram fraction (C4/Gopher-style quality
    filter signal); pure per-row array ops, no shuffle."""
    out = textan.repetition_features(load_corpus(spark, sf, "documents"))
    return out.withColumnRenamed("id", "doc_id")


def _tx05_sql() -> str:
    toks = f"string_split({core.sql_normalized_text('text')}, ' ')"
    gram = f"list_transform(generate_series(1, len({toks}) - 2), i -> array_to_string({toks}[i:i+2], ' '))"
    # the IS NULL arm mirrors the operator: NULL text -> NULL grams (all
    # metrics NULL), never the [NULL] singleton
    grams = (
        f"(CASE WHEN len({toks}) >= 3 THEN {gram} "
        f"WHEN {toks} IS NULL THEN NULL "
        f"ELSE [array_to_string({toks}, ' ')] END)"
    )
    return f"""
WITH g AS (SELECT doc_id, len({toks}) AS n_tokens, {grams} AS grams FROM documents)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
       round(1.0 - len(list_distinct(grams)) / len(grams), 6) AS repetition_ratio
FROM g
"""


TX05_SQL = _tx05_sql()


def tx14_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """KenLM-perplexity-gate analog (``textan.bigram_logprob``): per-doc
    mean MLE bigram conditional log-probability — token ORDER matters,
    unlike tx06's unigram score. The twin replays the pairing (positional
    list indexing), both count models, and the micro-quantized exact
    mean, so the whole bigram chain is hash-certified."""
    out = textan.bigram_logprob(load_corpus(spark, sf, "documents"))
    return out.withColumnRenamed("id", "doc_id")


TX14_SQL = f"""
WITH ex AS (
  SELECT doc_id,
         list_filter(string_split({core.sql_normalized_text("text")}, ' '), x -> x <> '') AS t
  FROM documents
),
pairs AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM ex)
),
cb AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       {core.sql_exact_avg("ln(cb / c1)")} AS mean_logprob
FROM pairs JOIN cb USING (w1, w2) JOIN c1 USING (w1)
GROUP BY doc_id
"""


def tx06_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Perplexity-filter analog: per-doc mean unigram log-probability
    under the corpus's own unigram model (rare-token-heavy docs score
    low). Two map-side-combined shuffles; corpus total via broadcast
    1-row aggregate."""
    out = textan.unigram_logprob(load_corpus(spark, sf, "documents"))
    return out.withColumnRenamed("id", "doc_id")


TX06_SQL = f"""
WITH ex AS (
  SELECT doc_id, unnest(string_split({core.sql_normalized_text("text")}, ' ')) AS tok
  FROM documents
),
ex2 AS (SELECT doc_id, tok FROM ex WHERE tok <> ''),
counts AS (SELECT tok, count(*) AS tok_n FROM ex2 GROUP BY tok),
total AS (SELECT sum(tok_n) AS total_n FROM counts)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       {core.sql_exact_avg("ln(tok_n / total_n)")} AS mean_logprob
FROM ex2 JOIN counts USING (tok) CROSS JOIN total
GROUP BY doc_id
"""


def ex02_export_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Physical export round-trip: the corpus is WRITTEN through
    ``export.write_sharded`` (shard-keyed shuffle, in-shard sort,
    shard=K parquet layout) into a scratch dir, READ BACK from disk,
    and summarized per shard — against the same analytic oracle as
    ex01. What the hash certifies here that ex01 cannot: the bytes that
    physically landed on disk carry the full corpus, the right rows in
    the right shard dirs, with nothing lost or duplicated by the
    write/read cycle."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from pyp_etl_pipeline_spark.operators import export  # noqa: PLC0415

    # process-unique scratch path + pre-clean: repeat invocations within
    # a session replace the shard dir; concurrent sessions never collide
    path = scratch_path("ex02_shards")
    shutil.rmtree(path, ignore_errors=True)
    export.write_sharded(load_table(spark, sf, "documents"), path, "doc_id", 16)
    back = spark.read.parquet(path)
    return back.groupBy(F.col("shard").cast("int").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(export.shard_key("doc_id") % F.lit(1_000_000_000)).alias("checksum"),
    )


def tx10_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (``textan.tfidf_topk``):
    integer micro-quantized rank key, ties (score desc, term asc). The
    twin replays the identical tf / document-frequency / ln pipeline
    single-node, so tokenization, the idf quantization contract, AND the
    top-k tie rule are all hash-certified."""
    out = textan.tfidf_topk(load_corpus(spark, sf, "documents"), k=3)
    return out.withColumnRenamed("id", "doc_id")


TX10_SQL = f"""
WITH ex AS (
  SELECT doc_id, unnest(string_split({core.sql_normalized_text("text")}, ' ')) AS term
  FROM documents
),
ex2 AS (SELECT doc_id, term FROM ex WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ex2 GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS ndocs FROM ex2),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df_docs,
         CAST(floor(tf.tf * ln(ndocs / df_docs) * 1000000 + 0.5) AS BIGINT) AS score_micro
  FROM tf JOIN dfq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df_docs, score_micro, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, term ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= 3
"""


def ex01_shard_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic shard export plan (``operators/export``): every doc
    is assigned to one of 16 shards by a portable md5-prefix hash of its
    key — membership depends only on the key, never on partitioning or
    input order. The query returns per-shard counts, total chars, and an
    order-independent content checksum; the DuckDB twin recomputes the
    same hash family, so the shard CONTRACT (not just the counts) is
    what the gate verifies."""
    from pyp_etl_pipeline_spark.operators import export  # noqa: PLC0415

    d = export.shard_assign(load_table(spark, sf, "documents"), "doc_id", 16)
    return d.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(export.shard_key("doc_id") % F.lit(1_000_000_000)).alias("checksum"),
    )


EX01_SQL = """
WITH h AS (
  SELECT n_chars,
         ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS hk
  FROM documents
)
SELECT CAST(hk % 16 AS INT) AS shard,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(hk % 1000000000) AS BIGINT) AS checksum
FROM h GROUP BY 1
"""

# ex02 reads the physically-written shards back; the CONTRACT it must
# reproduce is identical to ex01's analytic one
EX02_SQL = EX01_SQL


def ex03_jsonl_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """JSONL sharded export round-trip (``export.write_jsonl_sharded``):
    the corpus is written as gzipped shard=K JSONL directories — the
    layout LLM trainers stream (whole shard per .gz file, readers
    parallelize across shards) — read BACK from disk through the JSON
    reader, and summarized per shard against the same analytic oracle
    as ex01/ex02. Certifies that JSON serialization round-trips the
    full corpus (ids, counts, text lengths) with nothing lost,
    duplicated, or mis-escaped by the write/read cycle."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from pyp_etl_pipeline_spark.operators import export  # noqa: PLC0415

    path = scratch_path("ex03_jsonl")
    shutil.rmtree(path, ignore_errors=True)
    export.write_jsonl_sharded(
        load_table(spark, sf, "documents"), path, "doc_id", 16, compression="gzip"
    )
    back = spark.read.json(path)
    return back.groupBy(F.col("shard").cast("int").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(export.shard_key("doc_id") % F.lit(1_000_000_000)).alias("checksum"),
        F.sum(F.length("text")).alias("sum_text_len"),
    )


def _ex03_sql() -> str:
    h = "(('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT)"
    return f"""
SELECT ({h} % 16)::INT AS shard,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum({h} % 1000000000) AS BIGINT) AS checksum,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len
FROM documents GROUP BY 1
"""


EX03_SQL = _ex03_sql()


def rj01_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-interval join via bin-bucketed equi-join
    (``operators/ranges.interval_join``): for every error event, count
    the same user's click events inside the 15-minute window after the
    error. A naive BETWEEN theta-join is O(points x intervals) BNLJ;
    here intervals explode to <=2 bins (bin width == window length) and
    the join is a shuffled hash join on (user_id, bin). The left-outer
    accounting (errors with zero clicks) composes on top by joining the
    aggregated counts back to the interval side."""
    from pyp_etl_pipeline_spark.operators.ranges import interval_join  # noqa: PLC0415

    # idempotent ingest: at-least-once redelivery duplicates the same
    # event_id; interval accounting is keyed on it (--dupes contract)
    ev = load_table(spark, sf, "events").distinct()
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id"),
        F.col("user_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("end_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    matched = interval_join(clicks, errors, bin_width_s=900, keys=["user_id"])
    counts = matched.groupBy("event_id", "user_id").agg(F.count("*").alias("n_clicks"))
    return (
        errors.select("event_id", "user_id")
        .join(counts, ["event_id", "user_id"], "left")
        .select("event_id", "user_id", F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"))
    )


RJ01_SQL = """
WITH err AS (
  SELECT event_id, user_id, ts AS start_ts, ts + INTERVAL 15 MINUTE AS end_ts
  FROM (SELECT DISTINCT * FROM events) WHERE event_type = 'error'
),
clk AS (SELECT user_id, ts FROM (SELECT DISTINCT * FROM events) WHERE event_type = 'click')
SELECT err.event_id, err.user_id,
       CAST(count(clk.ts) AS BIGINT) AS n_clicks
FROM err LEFT JOIN clk
  ON clk.user_id = err.user_id AND clk.ts >= err.start_ts AND clk.ts <= err.end_ts
GROUP BY 1, 2
"""


def tx07_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021): five
    structural signals + per-rule booleans + the conjunction, map-only.
    The twin recomputes every signal AND every threshold comparison on
    the unrounded doubles, so a dialect drift in division or comparison
    semantics flips a boolean and breaks the hash."""
    out = textan.gopher_quality_flags(load_corpus(spark, sf, "documents"))
    return out.withColumnRenamed("id", "doc_id")


def _tx07_sql() -> str:
    stops = "[" + ", ".join(f"'{s}'" for s in textan.GOPHER_REQUIRED_STOPWORDS) + "]"
    nw = f"len({_TOKS})"
    mwl = f"(CASE WHEN {nw} = 0 THEN 0.0 ELSE list_sum(list_transform({_TOKS}, w -> length(w))) / {nw} END)"
    sym = f"(CASE WHEN {nw} = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '#|\\.\\.\\.')) / {nw} END)"
    alpha = f"(CASE WHEN {nw} = 0 THEN 0.0 ELSE len(list_filter({_TOKS}, w -> regexp_matches(w, '[A-Za-z]'))) / {nw} END)"
    stop = f"len(list_filter({_TOKS}, w -> list_contains({stops}, lower(w))))"
    return f"""
WITH f AS (
  SELECT doc_id, CAST({nw} AS BIGINT) AS n_words, {mwl} AS mwl, {sym} AS sym,
         {alpha} AS alpha, CAST({stop} AS BIGINT) AS n_stop_hits
  FROM documents
)
SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len, round(sym, 6) AS symbol_ratio,
       round(alpha, 6) AS alpha_word_ratio, n_stop_hits,
       (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
       (mwl >= 3.0 AND mwl <= 10.0) AS ok_word_len,
       (sym <= 0.1) AS ok_symbol,
       (alpha >= 0.8) AS ok_alpha,
       (n_stop_hits >= 2) AS ok_stopwords,
       (n_words >= 50 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
        AND sym <= 0.1 AND alpha >= 0.8 AND n_stop_hits >= 2) AS gopher_pass
FROM f
"""


TX07_SQL = _tx07_sql()


# --------------------------------------------------------------------------
# ST: structured streaming (batch-equivalent oracle)
# --------------------------------------------------------------------------

def st01_streaming_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming tumbling agg driven to completion over the static events
    parquet; one batch -> identical to the batch tumbling query."""
    from pyp_etl_pipeline_spark.streaming.events import read_events_stream, streaming_tumbling_agg  # noqa: PLC0415

    name = "st01_out_" + uuid.uuid4().hex[:8]
    stream = read_events_stream(spark, sf)
    agg = streaming_tumbling_agg(stream)
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


ST01_SQL = f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, {core.sql_exact_sum("value")} AS sum_value
FROM events GROUP BY 1, 2
"""


def tx09_token_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus heavy hitters: top-20 tokens by frequency (ties to the
    lexicographically smaller token). Map-side-combined count plus
    TakeOrdered — no global sort. The 100 TB shape for 'what dominates
    my corpus' diagnostics."""
    d = load_corpus(spark, sf, "documents")
    toks = d.select(
        F.explode(F.split(dedup.normalized_text("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
    )


TX09_SQL = f"""
SELECT tok, count(*) AS n
FROM (SELECT unnest(string_split({{norm}}, ' ')) AS tok FROM documents)
WHERE tok <> ''
GROUP BY 1 ORDER BY n DESC, tok ASC LIMIT 20
""".replace("{norm}", "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")


def a09_event_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot surface: per-user event counts widened into one column per
    event type (explicit value list — Spark then skips the extra
    distinct-values job and the output schema is deterministic). The
    twin is conditional aggregation, which is exactly what the pivot
    compiles to: one partial-aggregated shuffle, no transpose."""
    ev = load_table(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types]
    )


A09_SQL = """
SELECT user_id,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
FROM events GROUP BY 1
"""


def w06_group_zscores(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type z-score outlier screen (``windows.group_zscores``):
    exact integer centi-unit moments (map-side combined, one small
    broadcast back), flag |z| > 3. The twin recomputes the identical
    integer moments and the identical double arithmetic order, so mean,
    variance, z, AND the flag are hash-certified."""
    from pyp_etl_pipeline_spark.operators.windows import group_zscores  # noqa: PLC0415

    ev = load_table(spark, sf, "events")
    return group_zscores(ev, "event_type", "value", "event_id").withColumnRenamed("id", "event_id")


W06_SQL = """
WITH v AS (SELECT event_id, event_type, value,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS q FROM events
           WHERE value IS NOT NULL),
s AS (SELECT event_type, count(*) AS n, sum(q) AS s, sum(q * q) AS s2 FROM v GROUP BY 1),
j AS (SELECT v.event_id, v.event_type, v.value, v.q,
             (s.s::DOUBLE / s.n) AS mean,
             ((s.s2::DOUBLE - (s.s::DOUBLE / s.n) * s.s::DOUBLE) / s.n) AS var
      FROM v JOIN s USING (event_type))
SELECT event_id, event_type, value,
       round(CASE WHEN var <= 0 THEN 0.0 ELSE (q::DOUBLE - mean) / sqrt(var) END, 6) AS z,
       abs(CASE WHEN var <= 0 THEN 0.0 ELSE (q::DOUBLE - mean) / sqrt(var) END) > 3.0 AS is_anomaly
FROM j
"""


def ck01_document_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """RAG-style sliding-window chunking (``packing.chunk_documents``):
    64-token windows, 8-token overlap, map-only. The twin replays the
    identical window arithmetic (chunk count, slice bounds, overlap)
    with DuckDB list slicing, so the coverage/overlap contract is
    hash-certified, not just row counts."""
    from pyp_etl_pipeline_spark.operators import packing  # noqa: PLC0415

    out = packing.chunk_documents(load_corpus(spark, sf, "documents"), chunk_tokens=64, overlap=8)
    return out.withColumnRenamed("id", "doc_id")


CK01_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id IS NOT NULL),
x AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
c AS (SELECT doc_id, toks, n,
             unnest(generate_series(0, greatest(CAST(ceil((n - 8) / 56.0) AS BIGINT), 1) - 1)) AS chunk_idx
      FROM x)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(least(64, n - chunk_idx * 56) AS BIGINT) AS n_tokens,
       array_to_string(toks[(chunk_idx * 56 + 1) : (chunk_idx * 56 + 64)], ' ') AS chunk_text
FROM c
"""


def a11_cube_summary(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE grouping-set surface (a07's rollup sibling): all four
    grouping combinations of (status, priority) in one pass — Spark
    expands to a single expand+hash-agg, no re-scan per grouping set.
    Revenue uses the order-independent scaled-long sum."""
    from pyp_etl_pipeline_spark.functions.aggregates import exact_sum  # noqa: PLC0415

    o = load_table(spark, sf, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), exact_sum("o_totalprice").alias("revenue"))
    )


def _a11_sql() -> str:
    from pyp_etl_pipeline_spark.functions.aggregates import sql_exact_sum  # noqa: PLC0415

    return f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       {sql_exact_sum("o_totalprice")} AS revenue
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


A11_SQL = _a11_sql()


def tx12_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-novelty score: the fraction of a document's distinct word
    3-grams that appear in NO other document — high novelty separates
    original text from boilerplate/template mass (the dedup family's
    analytic cousin). Two map-side-combined shuffles (per-gram doc
    counts over the already-distinct per-doc shingles, then the per-doc
    rollup); the score is integer micro math."""
    d = load_corpus(spark, sf, "documents")
    from pyp_etl_pipeline_spark.operators.dedup import word_shingles  # noqa: PLC0415

    sh = d.select(F.col("doc_id"), F.explode(word_shingles("text", 3)).alias("g"))
    cnt = sh.groupBy("g").agg(F.count("*").alias("nd"))
    return (
        sh.join(cnt, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("nd") == 1, 1).otherwise(0)).cast("long").alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_unique",
            F.floor(F.lit(1_000_000.0) * F.col("n_unique") / F.col("n_grams") + F.lit(0.5))
            .cast("long")
            .alias("novelty_micro"),
        )
    )


TX12_SQL = (
    _SHINGLE_CTE
    + """,
e AS (SELECT doc_id, unnest(sh) AS g FROM s),
c AS (SELECT g, count(*) AS nd FROM e GROUP BY 1),
p AS (SELECT doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
      FROM e JOIN c USING (g) GROUP BY 1)
SELECT doc_id, n_grams, n_unique,
       CAST(floor(1000000.0 * n_unique / n_grams + 0.5) AS BIGINT) AS novelty_micro
FROM p
"""
)


def tx13_pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 PMI collocations over the corpus bigram stream
    (``textan.pmi_bigrams``, min_count=5): the classic phrase detector.
    Integer micro-quantized rank key, ties bigram-ascending; the twin
    replays counts, probabilities, and ln in closed SQL form."""
    return textan.pmi_bigrams(load_corpus(spark, sf, "documents"), k=20, min_count=5)


def _tx13_sql() -> str:
    toks = f"string_split({core.sql_normalized_text('text')}, ' ')"
    return f"""
WITH t AS (SELECT {toks} AS tk FROM documents WHERE len({toks}) > 0),
uni AS (SELECT unnest(tk) AS w FROM t),
uc AS (SELECT w, count(*) AS n_w FROM uni GROUP BY 1),
bg AS (
  SELECT tk[i] AS a, tk[i + 1] AS b
  FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM t WHERE len(tk) >= 2)
),
bc AS (SELECT a, b, count(*) AS n_ab FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
nu AS (SELECT sum(n_w) AS n_uni FROM uc),
nb AS (SELECT sum(greatest(len(tk) - 1, 0)) AS n_big FROM t)
SELECT a || ' ' || b AS bigram, n_ab, ua.n_w AS n_a, ub.n_w AS n_b,
       CAST(floor(ln((n_ab / n_big) / ((ua.n_w / n_uni) * (ub.n_w / n_uni))) * 1000000 + 0.5) AS BIGINT) AS pmi_micro
FROM bc JOIN uc ua ON bc.a = ua.w JOIN uc ub ON bc.b = ub.w
CROSS JOIN nu CROSS JOIN nb
ORDER BY pmi_micro DESC, bigram ASC LIMIT 20
"""


TX13_SQL = _tx13_sql()


def o08_keyset_pagination(spark: SparkSession, sf: str) -> DataFrame:
    """Keyset (cursor) pagination — the scalable alternative to
    OFFSET: the next page is every row strictly AFTER the cursor in the
    total order (o_orderdate, o_orderkey), fetched with a tuple
    comparison that rides the scan as a filter, then a top-k (no global
    offset scan). Spark expresses the row-value comparison as a struct
    comparison; the twin uses SQL row-value syntax — both engines'
    lexicographic tuple semantics certify each other."""
    o = load_table(spark, sf, "orders")
    cursor = F.struct(
        F.lit("1995-06-01 00:00:00").cast("timestamp").alias("o_orderdate"),
        F.lit(1000).cast("long").alias("o_orderkey"),
    )
    return (
        o.filter(F.struct("o_orderdate", "o_orderkey") > cursor)
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(50)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus")
    )


O08_SQL = """
SELECT o_orderkey, o_custkey, o_orderdate, o_orderstatus
FROM orders
WHERE (o_orderdate, o_orderkey) > (TIMESTAMP '1995-06-01 00:00:00', 1000)
ORDER BY o_orderdate ASC, o_orderkey ASC LIMIT 50
"""


def mm06_audio_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio feature extraction beyond RMS: zero-crossing rate and
    peak amplitude from actual PCM bytes (``codecs.wav_decode`` —
    RIFF walk, no metadata trust). The synthesized ramp clips make every
    feature analytically predictable from doc_id, so the DuckDB twin
    recomputes ZCR/peak/RMS/duration in closed form — an endianness,
    sign, or off-by-one bug in the PCM path breaks the hash."""
    from pyp_etl_pipeline_spark.multimodal.binary_ops import decode_features  # noqa: PLC0415
    from pyp_etl_pipeline_spark.multimodal.codecs import wav_encode_pcm16  # noqa: PLC0415

    d = load_table(spark, sf, "documents").select("doc_id").filter(F.col("doc_id") % 2 == 1)

    def encode(i):
        k = 1 + i % 7
        n = 100 + i % 50
        return wav_encode_pcm16([(((j * k) % 256) - 128) * 64 for j in range(n)], 8000)

    media = synth_media(d, encode)
    out = decode_features(media)
    return out.select(
        "media_id",
        F.round("duration_ms", 4).alias("duration_ms"),
        F.round("rms", 4).alias("rms"),
        F.round("zcr", 6).alias("zcr"),
        "peak",
    )


MM06_SQL = """
WITH odd AS (
  SELECT doc_id, (1 + doc_id % 7)::BIGINT AS k, (100 + doc_id % 50)::BIGINT AS n
  FROM documents WHERE doc_id % 2 = 1
)
SELECT doc_id AS media_id,
  round(n * 1000.0 / 8000.0, 4) AS duration_ms,
  round(sqrt(list_avg(list_transform(range(0, n), j -> power((((j * k) % 256 - 128) * 64)::DOUBLE, 2)))), 4) AS rms,
  round(len(list_filter(range(1, n), j -> (((j * k) % 256) >= 128) <> ((((j - 1) * k) % 256) >= 128)))::DOUBLE / (n - 1), 6) AS zcr,
  CAST(list_max(list_transform(range(0, n), j -> abs(((j * k) % 256 - 128) * 64))) AS INT) AS peak
FROM odd
"""


def dq01_expectation_report(spark: SparkSession, sf: str) -> DataFrame:
    """Table-contract gate (``operators/quality``): null-rate /
    uniqueness / range expectations on customer ride ONE map-side-
    combined aggregate pass, plus an FK-integrity rule
    (orders.o_custkey -> customer.c_custkey, one anti-join). The twin
    recomputes every metric as plain SQL aggregates — thresholds,
    fractions, and pass booleans all hash-certified."""
    from pyp_etl_pipeline_spark.operators import quality  # noqa: PLC0415

    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    rep = quality.expectation_report(
        c,
        not_null={"c_name": 0.0, "c_mktsegment": 0.05},
        unique=("c_custkey",),
        ranges={"c_acctbal": (-1000.0, 10000.0)},
    )
    fk = quality.referential_report(o, c, "o_custkey", "c_custkey")
    return rep.unionByName(fk)


DQ01_SQL = """
SELECT 'not_null:c_name' AS rule, CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS metric,
       CAST(0.0 AS DOUBLE) AS threshold, (CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) <= 0.0 AS ok FROM customer
UNION ALL
SELECT 'not_null:c_mktsegment', CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*),
       CAST(0.05 AS DOUBLE), (CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) <= 0.05 FROM customer
UNION ALL
SELECT 'unique:c_custkey', CAST(count(*) - count(DISTINCT c_custkey) AS DOUBLE) / count(*),
       CAST(0.0 AS DOUBLE), (count(*) - count(DISTINCT c_custkey)) <= 0 FROM customer
UNION ALL
SELECT 'range:c_acctbal', CAST(sum(CASE WHEN c_acctbal BETWEEN -1000.0 AND 10000.0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*),
       CAST(1.0 AS DOUBLE), (CAST(sum(CASE WHEN c_acctbal BETWEEN -1000.0 AND 10000.0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) >= 1.0 FROM customer
UNION ALL
SELECT 'fk:o_custkey->c_custkey',
       CAST(count(*) - sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*),
       CAST(1.0 AS DOUBLE), sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) = 0
FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey
"""


def cd01_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Keyed CDC between two snapshot versions
    (``quality.diff_snapshots``): v1 = orders missing every 10th key,
    v2 = orders missing every 7th key with every 5th price re-stated —
    so all three change kinds appear. One full-outer join on the key;
    UPDATE detection is null-safe per tracked column. The twin runs the
    identical full-outer + IS DISTINCT FROM logic."""
    from pyp_etl_pipeline_spark.operators import quality  # noqa: PLC0415

    o = load_table(spark, sf, "orders")
    k = F.col("o_orderkey")
    old = o.filter(k % 10 != 0).select("o_orderkey", "o_orderstatus", "o_totalprice")
    new = o.filter(k % 7 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(k % 5 == 0, F.col("o_totalprice") * 1.1).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    return quality.diff_snapshots(old, new, ("o_orderkey",))


CD01_SQL = """
WITH old AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0),
new AS (SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0),
j AS (
  SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
         old.o_orderkey IS NOT NULL AS in_old, new.o_orderkey IS NOT NULL AS in_new,
         old.o_orderstatus AS old_o_orderstatus, old.o_totalprice AS old_o_totalprice,
         new.o_orderstatus AS new_o_orderstatus, new.o_totalprice AS new_o_totalprice
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN NOT in_old THEN 'insert' WHEN NOT in_new THEN 'delete' ELSE 'update' END AS change,
       old_o_orderstatus, old_o_totalprice, new_o_orderstatus, new_o_totalprice
FROM j
WHERE NOT in_old OR NOT in_new
   OR (old_o_orderstatus IS DISTINCT FROM new_o_orderstatus)
   OR (old_o_totalprice IS DISTINCT FROM new_o_totalprice)
"""


def px02_pseudonymization(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic pseudonymization (``masking.pseudonymize``): PII
    hits become per-VALUE hashed tokens, not generic placeholders —
    user7@example.com maps to the same ``<EMAIL:xxxxxxxx>`` in every
    document (identities are injected with doc_id%50 collisions
    precisely so the referential-integrity property is visible in the
    output). The twin rebuilds every split/hash/interleave step, so the
    token derivation contract is hash-certified end to end."""
    from pyp_etl_pipeline_spark.functions import masking  # noqa: PLC0415

    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), (k % 50).cast("string"), F.lit("@example.com"),
        F.lit(" ssn 123-45-"), F.lpad((k % 10000).cast("string"), 4, "0"),
    )
    out = masking.pseudonymize(masking.pseudonymize(injected, "email"), "ssn")
    return d.select("doc_id", out.alias("pseudo"))


def _px02_sql() -> str:
    from pyp_etl_pipeline_spark.functions.masking import PII_PATTERNS  # noqa: PLC0415

    def rebuild(x: str, cls: str) -> str:
        pat = PII_PATTERNS[cls].replace("'", "''")
        parts = f"string_split_regex({x}, '{pat}')"
        matches = f"regexp_extract_all({x}, '{pat}')"
        tok = (
            f"'<{cls.upper()}:' || substring(md5({matches}[i] || 'pseudo-v1'), 1, 8) || '>'"
        )
        inter = (
            f"coalesce(array_to_string(list_transform(generate_series(1, len({matches})), "
            f"i -> {parts}[i] || {tok}), ''), '')"
        )
        return f"({inter} || {parts}[len({parts})])"

    inj = (
        "text || ' contact user' || (doc_id % 50) || '@example.com'"
        " || ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
    )
    return f"""
WITH i AS (SELECT doc_id, {inj} AS t FROM documents),
e AS (SELECT doc_id, {rebuild("t", "email")} AS t2 FROM i)
SELECT doc_id, {rebuild("t2", "ssn")} AS pseudo FROM e
"""


PX02_SQL = _px02_sql()


def bk01_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed co-located join through the oracle gate: lineitem and
    orders are materialized as 16-bucket tables on the orderkey
    (``sources/bucketed`` — the write-once-shuffle-never layout), then
    joined and aggregated per (orderkey, status). Both the join AND the
    aggregation cluster on the bucket key, so the whole query plans with
    ZERO exchanges after the write (the no-Exchange property is pinned
    in tests/test_bucketed.py; this query certifies the bucketed
    write+read path produces correct DATA on the real tables). The twin
    is the plain join — storage layout must not change results."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    from urllib.parse import urlparse  # noqa: PLC0415

    from pyp_etl_pipeline_spark.sources.bucketed import read_table, write_bucketed  # noqa: PLC0415

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    # fixed names + overwrite: repeat invocations replace, never
    # accumulate. A FRESH session can inherit the previous session's
    # warehouse DIRECTORY without its catalog entry — saveAsTable then
    # fails with LOCATION_ALREADY_EXISTS — so clear both first.
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path or "spark-warehouse"
    for t in ("bk01_li", "bk01_o"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    write_bucketed(li, "bk01_li", "l_orderkey", n_buckets=16)
    write_bucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"), "bk01_o", "l_orderkey", n_buckets=16)
    fact = read_table(spark, "bk01_li")
    dim = read_table(spark, "bk01_o")
    return (
        fact.join(dim, "l_orderkey")
        .groupBy("l_orderkey", "o_orderstatus")
        .agg(F.sum("l_quantity").alias("total_qty"), F.count("*").alias("n_items"))
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            "o_orderstatus",
            "total_qty",
            "n_items",
        )
    )


BK01_SQL = """
SELECT o_orderkey, o_orderstatus, sum(l_quantity) AS total_qty, count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


def w07_rolling_30d_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE-frame rolling window: per-customer trailing-30-day order
    revenue + order count. The frame is value-based (29 preceding DAYS,
    ties are peers), not row-based — the window surface w04's ROWS frame
    does not cover. The rolling sum runs over micro-unit LONGS
    (``functions/aggregates``), so it is order-independent and exact;
    the twin runs the identical integer window + finalize."""
    from pyp_etl_pipeline_spark.functions import aggregates  # noqa: PLC0415
    from pyspark.sql import Window  # noqa: PLC0415

    o = load_table(spark, sf, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    base = o.select(
        "o_custkey", "o_orderkey", day.alias("day"),
        aggregates.micro_col("o_totalprice").alias("__m"),
    )
    w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-29, 0)
    return base.select(
        "o_custkey",
        "o_orderkey",
        "day",
        aggregates.finalize_sum(F.sum("__m").over(w), 2).alias("rolling_30d"),
        F.count("*").over(w).cast("long").alias("n_orders_30d"),
    )


def _w07_sql() -> str:
    from pyp_etl_pipeline_spark.functions.aggregates import _sql_micro, sql_finalize_sum  # noqa: PLC0415

    return f"""
WITH base AS (
  SELECT o_custkey, o_orderkey,
         datediff('day', TIMESTAMP '1970-01-01', o_orderdate) AS day,
         {_sql_micro("o_totalprice")} AS m
  FROM orders
),
win AS (
  SELECT o_custkey, o_orderkey, day,
         sum(m) OVER (PARTITION BY o_custkey ORDER BY day
                      RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS ms,
         count(*) OVER (PARTITION BY o_custkey ORDER BY day
                        RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS n_orders_30d
  FROM base
)
SELECT o_custkey, o_orderkey, day, {sql_finalize_sum("ms", 2)} AS rolling_30d, n_orders_30d
FROM win
"""


W07_SQL = _w07_sql()


def q06_large_volume_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total lineitem quantity exceeds the
    threshold, joined back to order+customer detail. The heavy agg runs
    FIRST (map-side combined, one shuffle on orderkey) and its small
    having-filtered survivor set drives the joins — at scale AQE
    broadcasts it; quantities are integral doubles, so the sum is exact
    without the scaled-long machinery."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


Q06_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem GROUP BY 1
      HAVING sum(l_quantity) > 250) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def w05_ntile_quartiles(spark: SparkSession, sf: str) -> DataFrame:
    """ntile window surface: balance quartiles within market segment.
    Deterministic total order (balance desc, key asc); ntile's
    remainder-to-early-buckets rule is identical in both engines and is
    what the hash certifies."""
    from pyspark.sql import Window  # noqa: PLC0415

    c = load_table(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey", "c_mktsegment", F.ntile(4).over(w).cast("int").alias("quartile")
    )


W05_SQL = """
SELECT c_custkey, c_mktsegment,
       CAST(ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS INT) AS quartile
FROM customer
"""


def u05_status_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Runtime set-op surface (U3's plan-time cousin): customers with
    BOTH finished and open orders (INTERSECT) vs finished-only (EXCEPT),
    tagged and unioned. Spark intersect/subtract == SQL INTERSECT/EXCEPT
    DISTINCT semantics — dedup behavior is part of the certified
    contract."""
    o = load_table(spark, sf, "orders")
    fin = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    opn = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    both = fin.intersect(opn).withColumn("tag", F.lit("both"))
    f_only = fin.subtract(opn).withColumn("tag", F.lit("f_only"))
    return both.unionByName(f_only)


U05_SQL = """
SELECT o_custkey, 'both' AS tag FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
UNION ALL
SELECT o_custkey, 'f_only' AS tag FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
"""


def u06_multiset_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Multiset set-op surface (u05's bag-semantics sibling): per
    customer, finished-order DATES minus open-order dates with
    MULTIPLICITY preserved (EXCEPT ALL — a customer with three finished
    orders on a date and one open order keeps two copies), plus the
    INTERSECT ALL leg. Spark exceptAll/intersectAll == SQL EXCEPT
    ALL/INTERSECT ALL; the duplicate-count arithmetic is exactly what
    the hash certifies."""
    o = load_table(spark, sf, "orders")
    fin = o.filter(F.col("o_orderstatus") == "F").select("o_custkey", "o_orderdate")
    opn = o.filter(F.col("o_orderstatus") == "O").select("o_custkey", "o_orderdate")
    ex = fin.exceptAll(opn).withColumn("tag", F.lit("f_minus_o"))
    inter = fin.intersectAll(opn).withColumn("tag", F.lit("both"))
    return ex.unionByName(inter)


U06_SQL = """
SELECT o_custkey, o_orderdate, 'f_minus_o' AS tag FROM (
  SELECT o_custkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
  EXCEPT ALL
  SELECT o_custkey, o_orderdate FROM orders WHERE o_orderstatus = 'O')
UNION ALL
SELECT o_custkey, o_orderdate, 'both' AS tag FROM (
  SELECT o_custkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
  INTERSECT ALL
  SELECT o_custkey, o_orderdate FROM orders WHERE o_orderstatus = 'O')
"""


def pp01_pretraining_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The full pretraining-data pipeline composed END-TO-END from the
    engine's own operators — language-ID gate (``textan.language_scores``,
    keep engine-predicted 'en'), Gopher rule gate
    (``textan.gopher_quality_flags``, corpus-calibrated min_words=10),
    exact dedup (keep the min doc_id per normalized-content fingerprint,
    computed over the SURVIVING set), benchmark decontamination
    (``dedup.decontaminate`` against the doc_id%25==0 eval slice,
    broadcast shingles), then the deterministic train/val/test hash
    split (``sampling.hash_split``). Both gates run in keep-columns mode
    (map-only column algebra, no corpus join-back); the dedup keeper is
    ONE map-side-combinable min(struct) aggregate (no join-back either);
    decontamination is a broadcast shingle semi-join + one overlap
    groupBy, removed via anti-join on the contaminated (small) side.
    Total: two aggregate shuffles + one anti-join — at 100 TB the corpus
    crosses the wire twice. The twin replays the identical five stages
    as CTEs, so STAGE ORDER (dedup-over-survivors, not
    dedup-over-corpus) is part of what the hash certifies."""
    d = load_corpus_unique(spark, sf, "documents")
    # both gates run in keep-columns mode: pure map-only column algebra
    # appended to the corpus row — NO join-back against the corpus
    d1 = (
        textan.language_scores(d, keep_input_cols=True)
        .filter(F.col("lang_guess") == "en")
        .select("doc_id", "text", "lang_guess")
    )
    d2 = (
        textan.gopher_quality_flags(d1, min_words=10, keep_input_cols=True)
        .filter("gopher_pass")
        .select("doc_id", "text", "lang_guess")
    )
    # exact dedup without a join-back: keeper election is ONE map-side-
    # combinable min(struct) aggregate keyed by the content fingerprint
    # (doc_id unique -> deterministic winner row)
    from pyp_etl_pipeline_spark.operators.dedup import fingerprint, normalized_text  # noqa: PLC0415

    d3 = (
        d2.select(fingerprint(normalized_text("text")).alias("__fp"), "doc_id", "text", "lang_guess")
        .groupBy("__fp")
        .agg(F.min(F.struct("doc_id", "text", "lang_guess")).alias("__w"))
        .select("__w.doc_id", "__w.text", "__w.lang_guess")
    )
    bench = d.filter(F.col("doc_id") % 25 == 0)
    # the survivor set feeds THREE traversals (decontaminate's shingle
    # explode, its per-doc left-join base, and the final anti-join) —
    # without a checkpoint each consumer re-runs the language gate +
    # Gopher gate + fingerprint groupBy over the whole corpus (3 extra
    # passes in the executed plan). The lazy localCheckpoint materializes
    # it once, but not inside the action: under AQE the
    # localCheckpoint(eager=False) call itself runs the survivor set's
    # shuffle stages (the fingerprint groupBy) while the DataFrame is
    # built.
    corpus = d3.filter(F.col("doc_id") % 25 != 0).localCheckpoint(eager=False)
    # min_overlap=5: the synthetic corpus draws from a tiny vocabulary,
    # so single-3-gram collisions with the eval slice are ubiquitous —
    # the overlap threshold is the standard knob for that. Anti-join on
    # the CONTAMINATED ids (the small side), not inner-join on the clean
    contaminated = (
        dedup.decontaminate(corpus, bench, min_overlap=5)
        .filter(F.col("contaminated"))
        .select(F.col("id").alias("doc_id"))
    )
    d4 = corpus.join(contaminated, "doc_id", "left_anti")
    from pyp_etl_pipeline_spark.operators import sampling  # noqa: PLC0415

    out = sampling.hash_split(d4, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return out.select("doc_id", "lang_guess", "split")


def _pp01_sql() -> str:
    from pyp_etl_pipeline_spark.operators.sampling import BUCKETS, sql_hash_bucket  # noqa: PLC0415

    stops = "[" + ", ".join(f"'{s}'" for s in textan.GOPHER_REQUIRED_STOPWORDS) + "]"
    nw = f"len({_TOKS})"
    mwl = f"(CASE WHEN {nw} = 0 THEN 0.0 ELSE list_sum(list_transform({_TOKS}, w -> length(w))) / {nw} END)"
    sym = f"(CASE WHEN {nw} = 0 THEN 0.0 ELSE len(regexp_extract_all(text, '#|\\.\\.\\.')) / {nw} END)"
    alpha = f"(CASE WHEN {nw} = 0 THEN 0.0 ELSE len(list_filter({_TOKS}, w -> regexp_matches(w, '[A-Za-z]'))) / {nw} END)"
    stop = f"len(list_filter({_TOKS}, w -> list_contains({stops}, lower(w))))"
    b = sql_hash_bucket("doc_id", "split-v1")
    sql = (
        _SHINGLE_CTE
        + f""",
langs AS (SELECT doc_id FROM ({TX03_SQL}) WHERE lang_guess = 'en'),
gop AS (
  SELECT doc_id FROM (
    SELECT doc_id, CAST({nw} AS BIGINT) AS n_words, {mwl} AS mwl, {sym} AS sym,
           {alpha} AS alpha, {stop} AS n_stop_hits
    FROM documents)
  WHERE n_words >= 10 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
    AND sym <= 0.1 AND alpha >= 0.8 AND n_stop_hits >= 2
),
surv2 AS (SELECT doc_id FROM langs JOIN gop USING (doc_id)),
fps AS (SELECT doc_id, md5({core.sql_normalized_text("text")}) AS content_fp
        FROM documents JOIN surv2 USING (doc_id)),
keepers AS (SELECT min(doc_id) AS doc_id FROM fps GROUP BY content_fp),
corpus AS (SELECT doc_id FROM keepers WHERE doc_id % 25 <> 0),
bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE doc_id % 25 = 0),
cont AS (
  SELECT c.doc_id
  FROM (SELECT s.doc_id, unnest(s.sh) AS shingle FROM s JOIN corpus USING (doc_id)) c
  JOIN bench USING (shingle)
  GROUP BY 1 HAVING count(*) >= 5
),
final AS (SELECT doc_id FROM corpus ANTI JOIN cont USING (doc_id))
SELECT doc_id, 'en' AS lang_guess,
       CASE WHEN {b} < {int(0.9 * BUCKETS)} THEN 'train'
            WHEN {b} < {int(0.95 * BUCKETS)} THEN 'val'
            ELSE 'test' END AS split
FROM final
"""
    )
    # idempotent ingest, applied to EVERY composed fragment at once
    # (the language-ID and shingle sub-builders are shared with other
    # twins and keep their raw scans there): mirrors the Spark side's
    # load_corpus_unique so at-least-once duplicates collapse up front.
    return sql.replace("FROM documents", "FROM (SELECT DISTINCT * FROM documents) AS documents")


PP01_SQL = _pp01_sql()


def a10_length_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Doc-length histogram with cumulative share — the sizing profile a
    pipeline reads before choosing pack/truncate budgets. Bins are
    50-char buckets (map-side-combined hash-agg: output rows = bins, not
    docs); the cumulative window then runs over the BIN rows only, so
    its single unbounded partition holds dozens of rows at any corpus
    scale. Share is integer micro math (portable)."""
    d = load_table(spark, sf, "documents")
    bins = (
        # docs with unknown length have no bin — and a NULL bin_lo would
        # hit the window NULL-ordering divergence (Spark ASC puts NULLS
        # FIRST, DuckDB LAST), skewing every cumulative count
        d.filter(F.col("n_chars").isNotNull())
        .select((F.floor(F.col("n_chars") / 50) * 50).cast("long").alias("bin_lo"))
        .groupBy("bin_lo")
        .agg(F.count("*").alias("n_docs"))
    )
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.orderBy("bin_lo").rowsBetween(Window.unboundedPreceding, 0)
    total = bins.agg(F.sum("n_docs").alias("total"))
    return (
        bins.join(F.broadcast(total))
        .withColumn("cum_docs", F.sum("n_docs").over(w).cast("long"))
        .withColumn(
            "share_micro",
            F.floor(F.col("cum_docs") * 1_000_000 / F.col("total") + F.lit(0.5)).cast("long"),
        )
        .select("bin_lo", "n_docs", "cum_docs", "share_micro")
    )


A10_SQL = """
WITH bins AS (
  SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bin_lo, count(*) AS n_docs
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
),
t AS (SELECT sum(n_docs) AS total FROM bins)
SELECT bin_lo, n_docs,
       CAST(sum(n_docs) OVER (ORDER BY bin_lo) AS BIGINT) AS cum_docs,
       CAST(floor(sum(n_docs) OVER (ORDER BY bin_lo) * 1000000 / total + 0.5) AS BIGINT) AS share_micro
FROM bins CROSS JOIN t
"""


def tx11_quality_percentile_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-relative quality gate: drop the bottom quartile by token
    count — the adaptive cousin of tx07's fixed Gopher thresholds (the
    cut moves with the corpus instead of a constant). The p25 is ONE
    exact-percentile aggregate (a08-certified == DuckDB quantile_cont)
    broadcast back over the scored stream; keep/drop is then map-only.
    At 100 TB exact percentile means one extra sort-based agg over the
    (doc, n_tokens) pairs — swap in approx_percentile when 1e-3 cut
    error is acceptable; the gate keeps the exact one to stay
    hash-certifiable."""
    d = load_corpus(spark, sf, "documents")
    scored = d.select("doc_id", textan.token_count("text").alias("n_tokens"))
    thr = scored.agg(F.percentile("n_tokens", F.lit(0.25)).alias("thr"))
    return (
        scored.join(F.broadcast(thr))
        .select(
            "doc_id",
            "n_tokens",
            F.round("thr", 6).alias("thr"),
            (F.col("n_tokens") >= F.col("thr")).alias("keep"),
        )
    )


_TX11_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')"
TX11_SQL = f"""
WITH scored AS (
  SELECT doc_id, CAST(len({_TX11_TOKS}) AS BIGINT) AS n_tokens FROM documents
),
t AS (SELECT quantile_cont(n_tokens, 0.25) AS thr FROM scored)
SELECT doc_id, n_tokens, round(thr, 6) AS thr, n_tokens >= thr AS keep
FROM scored CROSS JOIN t
"""


def sk01_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-salted equi-join through the oracle gate: lineitem joins the
    supplier dim on (l_suppkey, salt) with the dim replicated 8 ways —
    the plan-level fix for a hot key AQE can't split. The twin is the
    PLAIN join + rollup, so the gate certifies salting's exact
    equivalence on real data, not just the unit fixture."""
    from pyp_etl_pipeline_spark.functions.aggregates import exact_sum  # noqa: PLC0415
    from pyp_etl_pipeline_spark.operators.skew import salted_join  # noqa: PLC0415

    li = load_table(spark, sf, "lineitem").select("l_suppkey", "l_quantity")
    sup = load_table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, sup, "l_suppkey", n_salts=8)
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"),
        exact_sum("l_quantity").alias("sum_qty"),
    )


def _sk01_sql() -> str:
    from pyp_etl_pipeline_spark.functions.aggregates import sql_exact_sum  # noqa: PLC0415

    return f"""
SELECT s.s_nationkey, count(*) AS n_items, {sql_exact_sum("l.l_quantity")} AS sum_qty
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1
"""


SK01_SQL = _sk01_sql()


def j14_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 validity history (``operators/scd.scd2_history``) over the
    per-customer order-status change log: one observation per
    (customer, date) — ties broken to the max orderkey's status — then
    consecutive equal statuses collapse into [valid_from, valid_to)
    rows with an is_current flag. One shuffle; both windows share one
    sort. The twin runs the identical lag/lead SQL single-node."""
    from pyp_etl_pipeline_spark.operators.scd import scd2_history  # noqa: PLC0415

    o = load_table(spark, sf, "orders")
    log = (
        o.groupBy(F.col("o_custkey"), F.col("o_orderdate").alias("ts"))
        .agg(F.max(F.struct("o_orderkey", "o_orderstatus"))["o_orderstatus"].alias("status"))
    )
    return scd2_history(log, "o_custkey", "ts", "status").select(
        "o_custkey", "status", "valid_from", "valid_to", "is_current"
    )


J14_SQL = """
WITH log AS (
  SELECT o_custkey, o_orderdate AS ts, max_by(o_orderstatus, o_orderkey) AS status
  FROM orders GROUP BY 1, 2
),
runs AS (
  SELECT o_custkey, ts, status,
         (lag(ts) OVER w IS NULL
          OR NOT (status IS NOT DISTINCT FROM lag(status) OVER w)) AS is_start
  FROM log WINDOW w AS (PARTITION BY o_custkey ORDER BY ts)
),
starts AS (SELECT o_custkey, status, ts AS valid_from FROM runs WHERE is_start)
SELECT o_custkey, status, valid_from,
       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS valid_to,
       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) IS NULL AS is_current
FROM starts
"""


def j16_point_in_time_status(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time (temporal) lookup against the j14 SCD2 history:
    for every order, the customer's status interval valid 15 days AFTER
    the order date. Because SCD2 intervals are contiguous per key,
    interval containment IS an as-of join on the validity starts — so
    the lookup runs through ``operators/asof.asof_join`` (one shuffle,
    no BNLJ range join). Probe arithmetic is timestamp + INTERVAL
    (tz-free); the twin uses DuckDB's native ASOF LEFT JOIN, so two
    engines' temporal-join semantics certify each other."""
    from pyp_etl_pipeline_spark.operators.asof import asof_join  # noqa: PLC0415
    from pyp_etl_pipeline_spark.operators.scd import scd2_history  # noqa: PLC0415

    o = load_table(spark, sf, "orders")
    log = (
        o.groupBy(F.col("o_custkey"), F.col("o_orderdate").alias("ts"))
        .agg(F.max(F.struct("o_orderkey", "o_orderstatus"))["o_orderstatus"].alias("status"))
    )
    hist = scd2_history(log, "o_custkey", "ts", "status")
    probes = o.select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 15 DAYS")).alias("ts"),
    )
    right = hist.select("o_custkey", F.col("valid_from").alias("ts"), "status")
    out = asof_join(probes, right, key="o_custkey", ts="ts", right_value_cols=["status"])
    return out.select(
        "o_orderkey",
        "o_custkey",
        F.col("ts").alias("probe_ts"),
        F.col("status_right").alias("status"),
    )


J16_SQL = f"""
WITH hist AS ({J14_SQL}),
probes AS (SELECT o_orderkey, o_custkey, o_orderdate + INTERVAL 15 DAY AS ts FROM orders)
SELECT p.o_orderkey, p.o_custkey, p.ts AS probe_ts, h.status
FROM probes p ASOF LEFT JOIN hist h ON p.o_custkey = h.o_custkey AND p.ts >= h.valid_from
"""


def ann04_kmeans_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=8, 2 iterations) over the
    embeddings — the trained coarse quantizer for IVF
    (``similarity.kmeans_fit``). All arithmetic is exact integer math on
    micro-quantized components, so the DuckDB twin (the same iterations
    unrolled as CTEs, single-node) reproduces every assignment and
    distance bit-for-bit: the gate certifies the DISTRIBUTED clustering
    loop (literal-broadcast assignment pass + one (cluster,dim)-combined
    shuffle per iteration) against a sequential reference."""
    emb = load_corpus_unique(spark, sf, "embeddings")
    cents = similarity.kmeans_fit(emb, k=8, n_iter=2)
    out = similarity.kmeans_assign(emb, cents)
    return out.select(F.col("id").alias("vec_id"), "cluster_id", F.col("dist").alias("dist"))


def _ann04_sql(k: int = 8, n_iter: int = 2, dim: int = 64) -> str:
    micro = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"

    def dist(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    sql = f"""
WITH e AS (SELECT vec_id, embedding, {micro} AS xm FROM (SELECT DISTINCT * FROM embeddings)),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, xm AS cm
  FROM (SELECT vec_id, xm FROM e ORDER BY vec_id LIMIT {k})
)"""
    prev = "c0"
    for t in range(1, n_iter + 1):
        sql += f""",
a{t} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist("e.xm", "c.cm")}, c.cid) AS rn
    FROM e CROSS JOIN {prev} c) WHERE rn = 1
),
u{t} AS (
  SELECT a.cid, t.i,
         CAST(floor(sum(e.xm[t.i]) / count(*) + 0.5) AS BIGINT) AS comp
  FROM a{t} a JOIN e USING (vec_id) CROSS JOIN generate_series(1, {dim}) t(i)
  GROUP BY 1, 2
),
c{t} AS (
  SELECT p.cid, coalesce(n.cm, p.cm) AS cm
  FROM {prev} p LEFT JOIN
       (SELECT cid, array_agg(comp ORDER BY i) AS cm FROM u{t} GROUP BY cid) n USING (cid)
)"""
        prev = f"c{t}"
    sql += f"""
SELECT vec_id, cid AS cluster_id, CAST(dist AS BIGINT) AS dist FROM (
  SELECT e.vec_id, c.cid, {dist("e.xm", "c.cm")} AS dist,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist("e.xm", "c.cm")}, c.cid) AS rn
  FROM e CROSS JOIN {prev} c) WHERE rn = 1
"""
    return sql


ANN04_SQL = _ann04_sql()


def sd01_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup (``similarity.semantic_dedup``):
    the ann04-trained k-means quantizer partitions the embedding space,
    then each vector with a lower-id same-cluster neighbor at
    cosine >= 0.25 (the nd01-calibrated corpus threshold) is dropped in
    favor of that smallest neighbor. The twin replays the identical
    clustering CTE (exact integer micro math — bit-for-bit assignments)
    plus the within-cluster pairwise cosine, so BOTH the distributed
    quantizer and the greedy keep-lowest-id rule are hash-certified."""
    emb = load_corpus_unique(spark, sf, "embeddings")
    cents = similarity.kmeans_fit(emb, k=8, n_iter=2)
    return similarity.semantic_dedup(emb, cents, threshold=0.25).select(
        F.col("id").alias("vec_id"), "cluster_id", "kept_by", "cos_to_keeper"
    )


SD01_SQL = f"""
WITH assigned AS ({_ann04_sql()}),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM (SELECT DISTINCT * FROM embeddings)),
pairs AS (
  SELECT hi.vec_id AS vec_id, hi.cluster_id, lo.vec_id AS id_a,
         list_cosine_similarity(vl.e, vh.e) AS cos
  FROM assigned lo JOIN assigned hi
    ON lo.cluster_id = hi.cluster_id AND lo.vec_id < hi.vec_id
  JOIN v vl ON vl.vec_id = lo.vec_id
  JOIN v vh ON vh.vec_id = hi.vec_id
  WHERE list_cosine_similarity(vl.e, vh.e) >= 0.25
)
SELECT vec_id, cluster_id, min(id_a) AS kept_by,
       round(arg_min(cos, id_a), 6) AS cos_to_keeper
FROM pairs GROUP BY 1, 2
"""


def ann05_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (``similarity.pq_fit/pq_topk``): the
    64-dim embeddings train 4 subspace codebooks of 8 codes each (exact
    integer Lloyd's per subspace), the corpus encodes to 4 codes per
    vector, and each query ranks the corpus by asymmetric distance — a
    per-query LUT of integer sub-distances, summed by 4 table lookups
    per vector. The FAISS-style compressed-search path: scan cost
    independent of dimensionality, 512 B/vector -> 4 B/vector. The twin
    unrolls the per-subspace training, encoding, LUT build, and ADC
    ranking in SQL on the same exact integers, so codebooks, codes, and
    every ADC distance are hash-certified bit-for-bit."""
    emb = load_corpus_unique(spark, sf, "embeddings")
    books = similarity.pq_fit(emb, m=4, ksub=8, n_iter=1)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.pq_topk(emb, q, books, k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("match_rank"), "adc_dist"
    )


def _ann05_sql(m: int = 4, ksub: int = 8, n_iter: int = 1, dim: int = 64, k: int = 5) -> str:
    """ann05's sequential reference: per-subspace integer Lloyd's
    (the ``_ann04_sql`` CTE pattern, sliced), argmin encoding, per-query
    LUTs, ADC ranking — all on the same micro-unit integers as Spark."""
    dsub = dim // m
    micro = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
    )

    def dist(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {dsub}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    parts = [f"WITH e AS (SELECT vec_id, {micro} AS xm FROM (SELECT DISTINCT * FROM embeddings))"]
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(f"e{s} AS (SELECT vec_id, xm[{lo}:{hi}] AS sm FROM e)")
        parts.append(
            f"""c0_{s} AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, sm AS cm
  FROM (SELECT vec_id, sm FROM e{s} ORDER BY vec_id LIMIT {ksub}))"""
        )
        prev = f"c0_{s}"
        for t in range(1, n_iter + 1):
            parts.append(
                f"""a{t}_{s} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist("e.sm", "c.cm")}, c.cid) AS rn
    FROM e{s} e CROSS JOIN {prev} c) WHERE rn = 1)"""
            )
            parts.append(
                f"""u{t}_{s} AS (
  SELECT a.cid, t.i,
         CAST(floor(sum(e.sm[t.i]) / count(*) + 0.5) AS BIGINT) AS comp
  FROM a{t}_{s} a JOIN e{s} e USING (vec_id) CROSS JOIN generate_series(1, {dsub}) t(i)
  GROUP BY 1, 2)"""
            )
            parts.append(
                f"""c{t}_{s} AS (
  SELECT p.cid, coalesce(n.cm, p.cm) AS cm
  FROM {prev} p LEFT JOIN
       (SELECT cid, array_agg(comp ORDER BY i) AS cm FROM u{t}_{s} GROUP BY cid) n USING (cid))"""
            )
            prev = f"c{t}_{s}"
        parts.append(
            f"""f{s} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist("e.sm", "c.cm")}, c.cid) AS rn
    FROM e{s} e CROSS JOIN {prev} c) WHERE rn = 1)"""
        )
        parts.append(
            f"""lut{s} AS (
  SELECT q.vec_id AS qid, c.cid, {dist("eq.sm", "c.cm")} AS d
  FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id % 100 = 0) q
  JOIN e{s} eq USING (vec_id) CROSS JOIN {prev} c)"""
        )
    code_joins = " ".join(f"JOIN f{s} USING (vec_id)" for s in range(1, m))
    code_cols = ", ".join(f"f{s}.cid AS k{s}" for s in range(m))
    parts.append(
        f"codes AS (SELECT f0.vec_id, {code_cols} FROM f0 {code_joins})"
    )
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.qid = l0.qid AND l{s}.cid = cd.k{s}" for s in range(1, m)
    )
    adc = " + ".join(f"l{s}.d" for s in range(m))
    parts.append(
        f"""scored AS (
  SELECT l0.qid AS query_id, cd.vec_id AS neighbor_id, {adc} AS adc_dist
  FROM codes cd JOIN lut0 l0 ON l0.cid = cd.k0 {lut_joins}
  WHERE cd.vec_id <> l0.qid)"""
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS match_rank,
       CAST(adc_dist AS BIGINT) AS adc_dist
FROM scored
QUALIFY match_rank <= {k}
"""
    )


ANN05_SQL = _ann05_sql()


def tx08_html_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Web-extraction step: deterministic HTML markup (keyed on doc_id)
    wraps each document, then ``text.extract_html_text`` strips tags,
    decodes entities (&amp; last — ordering is part of the contract),
    collapses whitespace. The twin applies the identical regex chain in
    DuckDB, so tag-regex or replace-order drift breaks the hash."""
    from pyp_etl_pipeline_spark.functions import text as textfn  # noqa: PLC0415

    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    html = F.concat(
        F.lit("<html><body><h1>Doc "), k, F.lit("</h1><p>"), F.col("text"), F.lit("</p>"),
        F.when(k % 3 == 0, F.concat(F.lit('<a href="http://ex.example/'), k, F.lit('">link</a> &amp; more')))
        .when(k % 3 == 1, F.lit("<ul><li>x&lt;y</li><li>&quot;q&quot;</li></ul>"))
        .otherwise(F.lit("<br/>")),
        F.lit("</body></html>"),
    )
    # project the built markup ONCE, then derive the three outputs from
    # the materialized column (no CSE across expressions otherwise)
    withh = d.select("doc_id", html.alias("__h"))
    return withh.select(
        "doc_id",
        textfn.extract_html_text("__h").alias("extracted"),
        F.regexp_count("__h", F.lit("<[^>]+>")).cast("long").alias("n_tags"),
        F.col("__h").contains("<a href").alias("has_link"),
    )


def _tx08_sql() -> str:
    inj = (
        "'<html><body><h1>Doc ' || doc_id || '</h1><p>' || text || '</p>' || "
        "CASE WHEN doc_id % 3 = 0 THEN '<a href=\"http://ex.example/' || doc_id || '\">link</a> &amp; more' "
        "WHEN doc_id % 3 = 1 THEN '<ul><li>x&lt;y</li><li>&quot;q&quot;</li></ul>' "
        "ELSE '<br/>' END || '</body></html>'"
    )
    ext = "regexp_replace(h, '<[^>]+>', '', 'g')"
    for pat, rep in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;|&#34;", '"'),
        ("&#x27;|&#39;|&apos;", "''"), ("&amp;", "&"),
    ):
        ext = f"regexp_replace({ext}, '{pat}', '{rep}', 'g')"
    ext = f"trim(regexp_replace({ext}, '\\s+', ' ', 'g'))"
    return f"""
WITH h AS (SELECT doc_id, {inj} AS h FROM documents)
SELECT doc_id, {ext} AS extracted,
       CAST(len(regexp_extract_all(h, '<[^>]+>')) AS BIGINT) AS n_tags,
       contains(h, '<a href') AS has_link
FROM h
"""


TX08_SQL = _tx08_sql()


def st06_streaming_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming MERGE sink (``streaming/upsert_sink``): the event
    stream drains through a foreachBatch keyed upsert — per-batch
    ``max(struct)`` winner election merged into an atomically-swapped
    versioned snapshot, idempotent per epoch. The final published
    state table (latest event per user) must equal the batch
    latest-per-user, which the DuckDB twin computes directly — the gate
    certifies the streaming MERGE path end-to-end."""
    import tempfile  # noqa: PLC0415

    from pyp_etl_pipeline_spark.streaming.events import read_events_stream  # noqa: PLC0415
    from pyp_etl_pipeline_spark.streaming.upsert_sink import (  # noqa: PLC0415
        read_current_snapshot,
        run_streaming_upsert,
    )

    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    # fixed scratch path + pre-clean (also wipes the stream checkpoint —
    # a stale one would skip the replayed input as already-processed)
    root = scratch_path("st06_upsert")
    shutil.rmtree(root, ignore_errors=True)
    stream = read_events_stream(spark, sf)
    run_streaming_upsert(stream, root, key_cols=("user_id",), order_cols=("ts", "event_id"))
    return read_current_snapshot(spark, root).select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("long").alias("ts_sec"),
        F.round("value", 2).alias("value"),
    )


ST06_SQL = """
SELECT user_id, event_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
       round(value, 2) AS value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


def ml01_linear_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed closed-form OLS (y = a + b*x): per event type, the
    value trend over hours-since-corpus-start, via the normal equations
    on EXACT integer moments — x in whole hours, y in centi units, so
    n/Sx/Sy/Sxy/Sxx are overflow-safe int64 sums (map-side combined,
    order-independent; Sxx stays under 2^63 for |x| <= 2e6 hours ==
    a ±230-year span at up to ~2e6 rows per event type). The
    normal-equation COMBINATION (n*Sxy - Sx*Sy etc.) runs in doubles:
    as pure int64 it overflows once x spans centuries (n*Sxx ~ 1e21 at
    sf0.1 under --tsextremes — the ARITHMETIC_OVERFLOW ANSI class),
    while the double expression is the literally-identical IEEE op
    sequence in both engines, so the hash contract holds.
    The corpus start rides as a broadcast 1-row min. This is the
    trend-fitting shape that scales: one agg pass, no matrix library,
    exact at any partitioning."""
    ev = load_table(spark, sf, "events")
    e = ev.select(
        "event_type",
        F.col("ts").cast("long").alias("ep"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yc"),
    ).filter(F.col("yc").isNotNull())
    t0 = e.agg(F.min("ep").alias("ep0"))
    x = F.expr("(ep - ep0) DIV 3600")
    m = (
        e.join(F.broadcast(t0))
        .select("event_type", x.alias("x"), "yc")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("yc").alias("sy"),
            F.sum(F.col("x") * F.col("yc")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * F.col("sy").cast("double")
    den = nd * F.col("sxx").cast("double") - sxd * sxd
    slope = F.when(den == 0, F.lit(0.0)).otherwise(num / den)
    intercept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col("n")
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope_centi_per_h"),
        F.round(intercept, 4).alias("intercept_centi"),
    )


ML01_SQL = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc
  FROM events WHERE value IS NOT NULL
),
t0 AS (SELECT min(ep) AS ep0 FROM e),
m AS (
  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(yc) AS sy,
         sum(x * yc) AS sxy, sum(x * x) AS sxx
  FROM (SELECT event_type, (ep - ep0) // 3600 AS x, yc FROM e CROSS JOIN t0)
  GROUP BY 1
)
-- the normal-equation combination runs in DOUBLES on both engines
-- (identical IEEE op sequence): as int64 it overflows once x spans
-- centuries, and DuckDB's silent HUGEINT widening would diverge from
-- Spark's ANSI overflow (the --tsextremes class).
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) = 0 THEN 0.0
             ELSE (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) END, 6) AS slope_centi_per_h,
       round((sy::DOUBLE - (CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) = 0 THEN 0.0
             ELSE (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) END) * sx::DOUBLE) / n, 4) AS intercept_centi
FROM m
"""


def w08_funnel_analysis(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): a user converts a
    stage only with an event AT OR AFTER their previous stage's first
    event — the order constraint is what separates a funnel from three
    independent counts. Three chained per-user conditional aggs (each
    map-side combined, keyed on user) then one tiny stage rollup; no
    windows, no self-join of the event stream. Conversion is integer
    micro math vs the stage-1 population."""
    ev = load_table(spark, sf, "events")
    e = ev.select("user_id", "event_type", F.col("ts").cast("long").alias("ep"))
    t1 = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ep").alias("t1"))
    t2 = (
        e.join(t1, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ep") >= F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ep").alias("t2"))
    )
    t3 = (
        e.join(t2, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ep") >= F.col("t2")))
        .groupBy("user_id")
        .agg(F.min("ep").alias("t3"))
    )
    base = t1.join(t2, "user_id", "left").join(t3, "user_id", "left")
    agg = base.agg(
        F.count("*").alias("n_view"),
        F.count("t2").alias("n_click"),
        F.count("t3").alias("n_purchase"),
    )
    stages = agg.select(
        F.explode(
            F.array(
                F.struct(F.lit("1_view").alias("stage"), F.col("n_view").alias("n_users")),
                F.struct(F.lit("2_click").alias("stage"), F.col("n_click").alias("n_users")),
                F.struct(F.lit("3_purchase").alias("stage"), F.col("n_purchase").alias("n_users")),
            )
        ).alias("s"),
        F.col("n_view").alias("__base"),
    )
    return stages.select(
        "s.stage",
        F.col("s.n_users").cast("long").alias("n_users"),
        F.floor(F.col("s.n_users") * 1_000_000 / F.col("__base") + F.lit(0.5)).cast("long").alias("conv_micro"),
    )


W08_SQL = """
WITH e AS (SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
t1 AS (SELECT user_id, min(ep) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
t2 AS (SELECT e.user_id, min(ep) AS t2 FROM e JOIN t1 USING (user_id)
       WHERE event_type = 'click' AND ep >= t1 GROUP BY 1),
t3 AS (SELECT e.user_id, min(ep) AS t3 FROM e JOIN t2 USING (user_id)
       WHERE event_type = 'purchase' AND ep >= t2 GROUP BY 1),
agg AS (
  SELECT count(*) AS n_view, count(t2.t2) AS n_click, count(t3.t3) AS n_purchase
  FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
)
SELECT '1_view' AS stage, CAST(n_view AS BIGINT) AS n_users,
       CAST(floor(n_view * 1000000.0 / n_view + 0.5) AS BIGINT) AS conv_micro FROM agg
UNION ALL
SELECT '2_click', CAST(n_click AS BIGINT),
       CAST(floor(n_click * 1000000.0 / n_view + 0.5) AS BIGINT) FROM agg
UNION ALL
SELECT '3_purchase', CAST(n_purchase AS BIGINT),
       CAST(floor(n_purchase * 1000000.0 / n_view + 0.5) AS BIGINT) FROM agg
"""


def a12_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention: users keyed by first-active week, one
    row per (cohort_week, week_offset) with the count of cohort users
    active that week. Two map-side-combined aggs (distinct user-weeks,
    then first week per user) + one join back on user — the standard
    cohort matrix, no window over the event stream."""
    ev = load_table(spark, sf, "events")
    weeks = (
        ev.select("user_id", F.floor(F.col("ts").cast("long") / F.lit(604800)).alias("wk"))
        .distinct()
    )
    first = weeks.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        weeks.join(first, "user_id")
        .groupBy("cohort_week", (F.col("wk") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count("*").cast("long").alias("n_users"))
    )


A12_SQL = """
WITH weeks AS (
  -- true FLOOR division (not `//`, which truncates toward zero and
  -- mis-buckets pre-1970 weeks — the --tsextremes class); the engine
  -- side is F.floor(cast / 604800), the same floor-of-double path.
  SELECT DISTINCT user_id, CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 604800) AS BIGINT) AS wk FROM events
),
first AS (SELECT user_id, min(wk) AS cohort_week FROM weeks GROUP BY 1)
SELECT cohort_week, wk - cohort_week AS week_offset, count(*) AS n_users
FROM weeks JOIN first USING (user_id)
GROUP BY 1, 2
"""


def st07_streaming_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming session windows (``streaming_session_agg``,
    built-in ``session_window``): 30-minute-gap sessions per user over
    the drained stream. Spark's session range is HALF-OPEN
    [first, last + gap) — an event exactly ``gap`` after the previous
    one starts a NEW session — so the batch twin breaks sessions at
    delta >= 1800, not > 1800; that boundary semantic is exactly what
    the hash certifies (w03's batch sessionize uses the > convention,
    which is why it is a separate query)."""
    import uuid  # noqa: PLC0415

    from pyp_etl_pipeline_spark.streaming.events import (  # noqa: PLC0415
        read_events_stream,
        run_to_memory,
        streaming_session_agg,
    )

    name = "st07_" + uuid.uuid4().hex[:8]
    stream = read_events_stream(spark, sf)
    agg = streaming_session_agg(stream, gap="30 minutes", watermark="2 hours")
    run_to_memory(agg, name, output_mode="complete")
    return spark.table(name).select(
        "user_id",
        F.col("session_start").cast("long").alias("session_start"),
        F.col("session_end").cast("long").alias("session_end"),
        F.col("n_events").cast("long").alias("n_events"),
    )


# The GAP test runs on exact integer MICROSECONDS (epoch_us), because
# Spark's session_window merges on the raw microsecond timestamps: a
# pair with true delta 1799.5s but floored-second delta 1800 merges in
# the engine and must merge here (caught by the sf0.1 gate — one such
# pair exists there and none at sf0.01). The OUTPUT stays in floored
# seconds: floor commutes with min/max, and the engine's
# cast-to-long of session_start/end floors the same way (sign-safe:
# unix_timestamp would truncate pre-1970 — the --tsextremes class).
#
# Duplicate-instance hazard (w03's r10 lesson): the lag-flag ->
# running-sum pattern over rows with full-row duplicates is
# INSTANCE-based — DuckDB's two window phases can re-sort tied
# identical rows between them and attach the boundary flag to a
# different copy run to run. The engine's session_window merges by
# VALUE (copies share a window) but still COUNTS copies, so the twin
# groups copies first ((user_id, event_id, ts) + n_copies — total
# order, no ties), runs the boundary logic over the unique rows, and
# sums n_copies back into n_events. Identity on unique driver data.
ST07_SQL = """
WITH e AS (SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
                  epoch_us(ts) AS us, count(*) AS n_copies
           FROM events
           -- pre-1970 excluded: the stream's watermark starts at epoch 0,
           -- so those rows are late-on-arrival and dropped by the stateful
           -- session operator (--tsextremes class)
           WHERE ts >= TIMESTAMP '1970-01-01' GROUP BY 1, 2, 3, 4, 5),
     l AS (SELECT *, us - lag(us) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap_us FROM e),
     s AS (SELECT *, CAST(sum(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM l)
SELECT user_id, min(ep) AS session_start, max(ep) + 1800 AS session_end,
       CAST(sum(n_copies) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_seq
"""


def st05_stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream event-time window join
    (``streaming.events.streaming_window_join``): errors and clicks read
    as TWO independent streams, each click joined to same-user errors
    whose 6-hour window contains it. Watermarks + the two-sided time
    bound keep join state bounded. Driven to completion over the static
    parquet; the oracle is the batch inner interval join, so the
    streaming join must reproduce it exactly."""
    from pyp_etl_pipeline_spark.streaming.events import (  # noqa: PLC0415
        read_events_stream,
        streaming_window_join,
    )

    name = "st05_out_" + uuid.uuid4().hex[:8]
    errors = (
        read_events_stream(spark, sf)
        .filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("err_event_id"), "user_id", F.col("ts").alias("start_ts"))
    )
    clicks = (
        read_events_stream(spark, sf)
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_event_id"), "user_id", "ts")
    )
    joined = streaming_window_join(errors, clicks, window="6 hours", watermark="12 hours").select(
        "err_event_id", "user_id", "click_event_id"
    )
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


ST05_SQL = """
-- Pre-1970 rows are excluded on BOTH sides: Structured Streaming
-- initializes the watermark to epoch 0, so a pre-1970 event time is
-- late-on-arrival and dropped before it can join (documented engine
-- semantic; surfaced by --tsextremes at sf0.1, where such pairs first
-- exist).
WITH err AS (
  SELECT event_id AS err_event_id, user_id, ts AS start_ts
  FROM events WHERE event_type = 'error' AND ts >= TIMESTAMP '1970-01-01'
),
clk AS (SELECT event_id AS click_event_id, user_id, ts FROM events
        WHERE event_type = 'click' AND ts >= TIMESTAMP '1970-01-01')
SELECT err.err_event_id, err.user_id, clk.click_event_id
FROM err JOIN clk
  ON clk.user_id = err.user_id
 AND clk.ts >= err.start_ts AND clk.ts <= err.start_ts + INTERVAL 6 HOUR
"""


def st08_stream_static_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static join (``streaming.events.streaming_static_enrich``):
    the event stream enriches against the static customer dimension
    (broadcast per micro-batch, NO join state — the canonical streaming
    enrichment shape) and aggregates spend per (market segment, event
    type). Driven to completion over the static parquet; the oracle is
    the plain batch join+rollup, so the per-batch broadcast-join path
    must reproduce batch semantics exactly. Completes the streaming
    join matrix: st05 covers stream-stream, this covers stream-static."""
    from pyp_etl_pipeline_spark.functions import aggregates  # noqa: PLC0415
    from pyp_etl_pipeline_spark.streaming.events import (  # noqa: PLC0415
        read_events_stream,
        streaming_static_enrich,
    )

    name = "st08_out_" + uuid.uuid4().hex[:8]
    dim = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    enriched = streaming_static_enrich(read_events_stream(spark, sf), dim)
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        aggregates.exact_sum("value").alias("sum_value"),
    )
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


ST08_SQL = f"""
SELECT c.c_mktsegment, e.event_type,
       count(*) AS n_events, {core.sql_exact_sum("e.value")} AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def zo01_zorder_cells(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering key (``export.zvalue``): orders keyed
    by interleaving customer key with the bucketed total price, then
    summarized per 2^14-wide z-cell — count plus min/max of BOTH
    dimensions. The point of the layout: a z-cell bounds both dims at
    once, so file-level min/max statistics prune 2-D range predicates
    (the Delta/Iceberg Z-ORDER move; here the key is pure integer bit
    algebra, certified bit-for-bit by the twin)."""
    from pyp_etl_pipeline_spark.operators import export  # noqa: PLC0415

    # zvalue's documented domain is NON-NEGATIVE dimensions; refund/
    # credit orders (negative totals — the --negatives class) clamp to
    # bucket 0 so they cluster with the smallest prices instead of
    # wrapping to the top of the z-range via two's-complement bits.
    o = load_table(spark, sf, "orders").select(
        "o_custkey",
        F.greatest(F.lit(0), F.floor(F.col("o_totalprice") / 1000)).cast("long").alias("pb"),
    )
    z = export.zvalue("o_custkey", "pb", bits=12)
    return (
        o.withColumn("z", z)
        .groupBy(F.expr("z DIV 16384").alias("z_cell"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("pb").alias("min_price_bucket"),
            F.max("pb").alias("max_price_bucket"),
        )
    )


def _zo01_sql() -> str:
    from pyp_etl_pipeline_spark.operators.export import sql_zvalue  # noqa: PLC0415

    zv = sql_zvalue("o_custkey", "pb", bits=12)
    return f"""
WITH o AS (SELECT o_custkey,
                  greatest(0, CAST(floor(o_totalprice / 1000) AS BIGINT)) AS pb FROM orders),
z AS (SELECT o_custkey, pb, {zv} AS z FROM o)
SELECT z // 16384 AS z_cell, count(*) AS n_orders,
       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
       min(pb) AS min_price_bucket, max(pb) AS max_price_bucket
FROM z GROUP BY 1
"""


ZO01_SQL = _zo01_sql()


def cms01_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch vs ground truth (``sketch.cms_token_counts``):
    a 4x1024 CMS of the corpus token stream, point-queried for the
    exact top-20 tokens. Everything is integer md5 arithmetic, so the
    twin reproduces every counter and every min — and the output
    carries both the exact and sketched counts, certifying the
    CMS >= exact overestimate contract on real data. Scale story:
    sketch state is depth x width counters however large the corpus."""
    from pyp_etl_pipeline_spark.operators import sketch  # noqa: PLC0415

    d = load_corpus(spark, sf, "documents")
    toks = d.select(
        F.explode(F.split(dedup.normalized_text("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    sk = sketch.cms_token_counts(toks)
    exact = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("long").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("tok"))
        .limit(20)
    )
    est = sketch.cms_estimate(sk, exact.select("tok"))
    return exact.join(est, "tok").select("tok", "n_exact", "n_cms")


def _cms01_sql(depth: int = 4, width: int = 1024) -> str:
    h = "(('0x' || substring(md5(tok || 'cms-v1:' || r), 1, 12))::BIGINT)"
    rs = ", ".join(str(r) for r in range(depth))
    return f"""
WITH ex AS (
  SELECT unnest(string_split({core.sql_normalized_text("text")}, ' ')) AS tok FROM documents
),
ex2 AS (SELECT tok FROM ex WHERE tok <> ''),
top AS (
  SELECT tok, count(*)::BIGINT AS n_exact FROM ex2 GROUP BY 1
  ORDER BY n_exact DESC, tok ASC LIMIT 20
),
sk AS (
  SELECT r, {h} % {width} AS bucket, count(*)::BIGINT AS n
  FROM (SELECT tok, unnest([{rs}]) AS r FROM ex2) GROUP BY 1, 2
),
probes AS (
  SELECT tok, r, {h} % {width} AS bucket
  FROM (SELECT tok, unnest([{rs}]) AS r FROM top)
)
SELECT top.tok, top.n_exact, est.n_cms
FROM top JOIN (
  SELECT p.tok, min(sk.n) AS n_cms
  FROM probes p JOIN sk ON sk.r = p.r AND sk.bucket = p.bucket
  GROUP BY 1
) est ON est.tok = top.tok
"""


CMS01_SQL = _cms01_sql()


def w09_ewma_value(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user integer EWMA (alpha=1/2) of event values in event-time
    order (``windows.ewma_by_key``): s_t = floor((s_{t-1}+v_t)/2) on
    exact centi-units, so the ordered stateful fold is bit-reproducible.
    The twin replays it with DuckDB's list_reduce over the identically
    ordered value list — order rule, tie rule, and every halving step
    hash-certified."""
    from pyp_etl_pipeline_spark.operators import windows as win  # noqa: PLC0415
    from pyp_etl_pipeline_spark.tables import load_events  # noqa: PLC0415

    return win.ewma_by_key(load_events(spark, sf))


# NOTE the halving step: the engine is F.floor((acc+x)/2) — TRUE floor
# (floor(-5/2) = -3) — while DuckDB `//` truncates toward zero
# ((-5)//2 = -2), so a bare `//` twin diverges by 1 on odd NEGATIVE
# sums (caught by the --negatives sweep, r10). The identity below
# subtracts the floor-remainder ((n % 2 + 2) % 2, always 0/1) to make
# the dividend even, after which `//` is exact — pure integer, no
# double round-trip.
W09_SQL = """
SELECT user_id, count(*)::BIGINT AS n_events,
       list_reduce(
         array_agg(CAST(floor(value * 100 + 0.5) AS BIGINT) ORDER BY ts, event_id),
         (a, b) -> ((a + b) - (((a + b) % 2) + 2) % 2) // 2
       ) AS ewma_centi
FROM events WHERE value IS NOT NULL GROUP BY 1
"""


def a13_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Engine-portable HyperLogLog (``operators/sketch.hll_distinct``):
    distinct customers per order priority, estimated with 256 registers
    over a 48-bit md5 hash stream — register math all-integer (rho via
    binary-string length, harmonic denominator as an exact integer), so
    the estimate is bit-reproducible and the twin replays it exactly.
    The exact distinct rides along for the error column. The scale
    story: per-group state is 256 integers regardless of input size —
    no distinct shuffle."""
    from pyp_etl_pipeline_spark.operators import sketch  # noqa: PLC0415

    o = load_table(spark, sf, "orders").select("o_orderpriority", "o_custkey")
    est = sketch.hll_distinct(o, "o_custkey", group_cols=("o_orderpriority",))
    exact = o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").cast("long").alias("n_exact")
    )
    return est.join(exact, "o_orderpriority").select(
        "o_orderpriority", "n_exact", "n_registers_hit", "harmonic_scaled", "est_distinct"
    )


def _a13_sql() -> str:
    from pyp_etl_pipeline_spark.operators.sketch import sql_hll_distinct  # noqa: PLC0415

    hll = sql_hll_distinct("orders", "o_custkey", group_cols=("o_orderpriority",))
    return f"""
WITH hll AS ({hll}),
exact AS (SELECT o_orderpriority, count(DISTINCT o_custkey)::BIGINT AS n_exact FROM orders GROUP BY 1)
SELECT o_orderpriority, n_exact, n_registers_hit, harmonic_scaled, est_distinct
FROM hll JOIN exact USING (o_orderpriority)
"""


A13_SQL = _a13_sql()


def tk01_bpe_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE tokenizer-vocabulary training (``operators/bpe``):
    10 merges learned from the documents corpus' word-frequency table
    (one vocab-sized map-side-combined pair-count shuffle + a 1-row
    argmax collect per merge — the industrial distributed-BPE shape),
    then the final segmentation of every vocabulary word. The twin
    replays ALL TEN merges sequentially in SQL — pair counts, the
    (count desc, pair asc) argmax, and the left-to-right non-overlapping
    rewrite via recursive CTEs — so the entire iterative training loop
    is hash-certified bit-for-bit, not just sampled."""
    from pyp_etl_pipeline_spark.operators import bpe  # noqa: PLC0415

    words = bpe.word_counts(load_corpus(spark, sf, "documents"))
    _merges, seqs = bpe.bpe_fit(words, n_merges=10)
    return seqs.select(
        "word",
        "cnt",
        F.size("t").cast("long").alias("n_tokens"),
        F.array_join("t", " ").alias("tokens"),
    )


def _tk01_sql(n_merges: int = 10) -> str:
    parts = [
        f"""words AS MATERIALIZED (
  SELECT tok AS word, count(*)::BIGINT AS cnt
  FROM (SELECT unnest(string_split({core.sql_normalized_text("text")}, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY 1),
w0 AS MATERIALIZED (SELECT word, cnt, regexp_extract_all(word, '.') AS t FROM words)"""
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        parts.append(
            f"""p{i} AS MATERIALIZED (
  SELECT t[j] AS a, t[j+1] AS b, sum(cnt) AS n
  FROM (SELECT cnt, t, unnest(range(1, len(t))) AS j FROM {prev}) GROUP BY 1, 2),
m{i} AS MATERIALIZED (SELECT a, b FROM p{i} ORDER BY n DESC, a, b LIMIT 1),
r{i} AS (
  SELECT word, cnt, t, 0 AS pos, []::VARCHAR[] AS acc FROM {prev}
  UNION ALL
  SELECT word, cnt, t, pos + 1,
    CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT a FROM m{i}) AND t[pos+1] = (SELECT b FROM m{i})
         THEN acc[1:len(acc)-1] || [(SELECT a FROM m{i}) || (SELECT b FROM m{i})]
         ELSE acc || [t[pos+1]] END
  FROM r{i} WHERE pos < len(t)
),
w{i} AS MATERIALIZED (SELECT word, cnt, acc AS t FROM r{i} WHERE pos = len(t))"""
        )
    return (
        "WITH RECURSIVE\n"
        + ",\n".join(parts)
        + f"""
SELECT word, cnt, CAST(len(t) AS BIGINT) AS n_tokens,
       coalesce(array_to_string(t, ' '), '') AS tokens
FROM w{n_merges}
"""
    )


TK01_SQL = _tk01_sql()


def gr01_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Integer-exact PageRank (``graph.pagerank``, 2 iterations) over the
    bidirectional customer-supplier interaction graph (distinct pairs
    from lineitem x orders; customers at node 2k, suppliers at 2k+1).
    The iterative companion to dd04's connected components — authority
    scoring for corpus/link quality weighting. All rank arithmetic is
    integer DIV on a fixed mass pool, so the twin (the same two
    iterations unrolled as CTEs) reproduces every rank bit-for-bit."""
    from pyp_etl_pipeline_spark.operators import graph  # noqa: PLC0415

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    fwd = pairs.select((F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst"))
    rev = pairs.select((F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst"))
    pr = graph.pagerank(fwd.unionAll(rev), n_iter=2)
    return pr.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer")).otherwise(F.lit("supplier")).alias("kind"),
        F.expr("node DIV 2").alias("key"),
        "pr",
    )


GR01_SQL = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
n AS (SELECT count(*) AS nn FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
p0 AS (SELECT node, 1000000000000 // nn AS pr FROM nodes CROSS JOIN n),
c1 AS (
  SELECT e.dst AS node, sum(p.pr // d.deg) AS s
  FROM e JOIN p0 p ON p.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1
),
p1 AS (
  SELECT nodes.node,
         (15 * (1000000000000 // nn)) // 100 + (85 * coalesce(c1.s, 0)) // 100 AS pr
  FROM nodes CROSS JOIN n LEFT JOIN c1 USING (node)
),
c2 AS (
  SELECT e.dst AS node, sum(p.pr // d.deg) AS s
  FROM e JOIN p1 p ON p.node = e.src JOIN deg d ON d.src = e.src GROUP BY 1
),
p2 AS (
  SELECT nodes.node,
         (15 * (1000000000000 // nn)) // 100 + (85 * coalesce(c2.s, 0)) // 100 AS pr
  FROM nodes CROSS JOIN n LEFT JOIN c2 USING (node)
)
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       node // 2 AS key, CAST(pr AS BIGINT) AS pr
FROM p2
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES = {
    # core / TPC-H-ish
    "flagship_band_rollup": (core.flagship_band_rollup, core.FLAGSHIP_SQL),
    "q01_pricing_summary": (core.q01_pricing_summary, core.Q01_SQL),
    "q02_top_revenue_orders": (core.q02_top_revenue_orders, core.Q02_SQL),
    "q03_region_revenue": (core.q03_region_revenue, core.Q03_SQL),
    "q04_mktsegment_summary": (core.q04_mktsegment_summary, core.Q04_SQL),
    # F/T
    "f01_sentinel_nulls": (core.f01_sentinel_nulls, core.F01_SQL),
    "f02_row_validation": (core.f02_row_validation, core.F02_SQL),
    "t01_sanitize_collapse": (core.t01_sanitize_collapse, core.T01_SQL),
    "t02_variant_normalize": (core.t02_variant_normalize, core.T02_SQL),
    "t05_capital_case": (core.t05_capital_case, core.T05_SQL),
    # E/U
    "e01_explode_multivalue": (core.e01_explode_multivalue, core.E01_SQL),
    "e02_explode_dedup": (core.e02_explode_dedup, core.E02_SQL),
    "u01_union_kinds": (core.u01_union_kinds, core.U01_SQL),
    # J
    "j01_exact_resolution": (core.j01_exact_resolution, core.J01_SQL),
    "j02_fuzzy_topk": (j02_fuzzy_topk, J02_SQL),
    "j02b_typo_fallback": (j02b_typo_fallback, J02B_SQL),
    "j13_reject_payload": (j13_reject_payload, _j13_sql()),
    "rv01_review_workflow": (rv01_review_workflow, RV01_SQL),
    "j04_penalty_bands": (j04_penalty_bands, J04_SQL),
    "j07_alternatives": (j07_alternatives, J07_SQL),
    "j08_semantic_guard": (core.j08_semantic_guard, core.J08_SQL),
    "j09_merge_actions": (core.j09_merge_actions, core.J09_SQL),
    "j10_dim_lookup_or_create": (core.j10_dim_lookup_or_create, core.J10_SQL),
    "j11_offerings_derivation": (core.j11_offerings_derivation, core.J11_SQL),
    "j15_live_uid_fallback": (core.j15_live_uid_fallback, core.J15_SQL),
    "j12_canonical_backfill": (core.j12_canonical_backfill, core.J12_SQL),
    # A/O
    "a01_band_summary": (a01_band_summary, A01_SQL),
    "a02_member_rollup": (core.a02_member_rollup, core.A02_SQL),
    "o01_topk_orders_per_customer": (o01_topk_orders_per_customer, O01_SQL),
    "o04_latest_order_per_customer": (o04_latest_order_per_customer, O04_SQL),
    # W
    "w01_tumbling_hourly": (w01_tumbling_hourly, W01_SQL),
    "w02_sliding_1h_15m": (w02_sliding_1h_15m, W02_SQL),
    "w03_sessionize_30m": (w03_sessionize_30m, W03_SQL),
    # DD
    "dd01_exact_dup_histogram": (dd01_exact_dup_histogram, DD01_SQL),
    "dd02_ngram_jaccard_pairs": (dd02_ngram_jaccard_pairs, DD02_SQL),
    "dd03_minhash_lsh_pairs": (dd03_minhash_lsh_pairs, DD03_SQL),
    "dd04_dup_clusters": (dd04_dup_clusters, DD04_SQL),
    "dd05_incremental_minhash": (dd05_incremental_minhash, DD05_SQL),
    "dd06_span_dedup": (dd06_span_dedup, DD06_SQL),
    "dd07_neardup_dedup": (dd07_neardup_dedup, DD07_SQL),
    "dc01_decontaminate": (dc01_decontaminate, DC01_SQL),
    "dc02_decontaminate_spans": (dc02_decontaminate_spans, DC02_SQL),
    "sh01_simhash_pairs": (sh01_simhash_pairs, SH01_SQL),
    # ANN
    "ann01_cosine_topk": (ann01_cosine_topk, ANN01_SQL),
    "ann02_lsh_topk": (ann02_lsh_topk, ANN02_SQL),
    "nd01_embed_neardup": (nd01_embed_neardup, ND01_SQL),
    # TX
    "tx01_quality_features": (tx01_quality_features, TX01_SQL),
    "tx07_gopher_rules": (tx07_gopher_rules, TX07_SQL),
    "rj01_interval_join": (rj01_interval_join, RJ01_SQL),
    "ex01_shard_stats": (ex01_shard_stats, EX01_SQL),
    "ex02_export_roundtrip": (ex02_export_roundtrip, EX02_SQL),
    "ex03_jsonl_roundtrip": (ex03_jsonl_roundtrip, EX03_SQL),
    "st05_stream_stream_join": (st05_stream_stream_join, ST05_SQL),
    "st08_stream_static_enrich": (st08_stream_static_enrich, ST08_SQL),
    "gr01_pagerank": (gr01_pagerank, GR01_SQL),
    "tk01_bpe_vocab": (tk01_bpe_vocab, TK01_SQL),
    "a13_hll_distinct": (a13_hll_distinct, A13_SQL),
    "w09_ewma_value": (w09_ewma_value, W09_SQL),
    "cms01_heavy_hitters": (cms01_heavy_hitters, CMS01_SQL),
    "zo01_zorder_cells": (zo01_zorder_cells, ZO01_SQL),
    "st06_streaming_upsert": (st06_streaming_upsert, ST06_SQL),
    "st07_streaming_sessions": (st07_streaming_sessions, ST07_SQL),
    "w08_funnel_analysis": (w08_funnel_analysis, W08_SQL),
    "ml01_linear_trend": (ml01_linear_trend, ML01_SQL),
    "a12_cohort_retention": (a12_cohort_retention, A12_SQL),
    "tx08_html_extract": (tx08_html_extract, TX08_SQL),
    "ann04_kmeans_clusters": (ann04_kmeans_clusters, ANN04_SQL),
    "ann05_pq_topk": (ann05_pq_topk, ANN05_SQL),
    "sd01_semantic_dedup": (sd01_semantic_dedup, SD01_SQL),
    "j14_scd2_history": (j14_scd2_history, J14_SQL),
    "j16_point_in_time_status": (j16_point_in_time_status, J16_SQL),
    "sk01_salted_join": (sk01_salted_join, SK01_SQL),
    "tx09_token_topk": (tx09_token_topk, TX09_SQL),
    "a09_event_pivot": (a09_event_pivot, A09_SQL),
    "a10_length_histogram": (a10_length_histogram, A10_SQL),
    "pp01_pretraining_pipeline": (pp01_pretraining_pipeline, PP01_SQL),
    "w05_ntile_quartiles": (w05_ntile_quartiles, W05_SQL),
    "q06_large_volume_customers": (q06_large_volume_customers, Q06_SQL),
    "w07_rolling_30d_revenue": (w07_rolling_30d_revenue, W07_SQL),
    "bk01_bucketed_join": (bk01_bucketed_join, BK01_SQL),
    "a11_cube_summary": (a11_cube_summary, A11_SQL),
    "tx12_ngram_novelty": (tx12_ngram_novelty, TX12_SQL),
    "px02_pseudonymization": (px02_pseudonymization, PX02_SQL),
    "dq01_expectation_report": (dq01_expectation_report, DQ01_SQL),
    "mm06_audio_features": (mm06_audio_features, MM06_SQL),
    "tx13_pmi_collocations": (tx13_pmi_collocations, TX13_SQL),
    "o08_keyset_pagination": (o08_keyset_pagination, O08_SQL),
    "cd01_snapshot_diff": (cd01_snapshot_diff, CD01_SQL),
    "ck01_document_chunks": (ck01_document_chunks, CK01_SQL),
    "w06_group_zscores": (w06_group_zscores, W06_SQL),
    "u05_status_set_ops": (u05_status_set_ops, U05_SQL),
    "u06_multiset_ops": (u06_multiset_ops, U06_SQL),
    "tx11_quality_percentile_gate": (tx11_quality_percentile_gate, TX11_SQL),
    "tx02_token_counts": (tx02_token_counts, TX02_SQL),
    "tx03_language_id": (tx03_language_id, TX03_SQL),
    "tx04_fingerprints": (tx04_fingerprints, TX04_SQL),
    "tx05_repetition": (tx05_repetition, TX05_SQL),
    "tx06_unigram_logprob": (tx06_unigram_logprob, TX06_SQL),
    "tx14_bigram_logprob": (tx14_bigram_logprob, TX14_SQL),
    "tx10_tfidf_topk": (tx10_tfidf_topk, TX10_SQL),
    # ST
    "st01_streaming_tumbling": (st01_streaming_tumbling, ST01_SQL),
    # part 3: validators, text T4/T6, limits, summaries, set ops, date funcs,
    # streaming sliding, multimodal plumbing
    **_ext3.QUERIES3,
    # part-3 queries whose oracles compose this module's twins
    "ev04_gate_calibration": (_ext3.ev04_gate_calibration, _ext3._ev04_sql(TX07_SQL)),
    "ev05_gate_kappa": (_ext3.ev05_gate_kappa, _ext3._ev05_sql(TX07_SQL, TX11_SQL)),
    "dd08_dedup_savings": (_ext3.dd08_dedup_savings, _ext3._dd08_sql(DD04_SQL)),
    "ev06_quality_auc": (_ext3.ev06_quality_auc, _ext3._ev06_sql(TX07_SQL)),
    "cf01_cascade_filter": (_ext3.cf01_cascade_filter, _ext3._cf01_sql(TX07_SQL)),
    # dd04 under its old name: the first-50 window, perfbench and bench.py list it
    "gr02_star_components": (dd04_dup_clusters, DD04_SQL),
    "pp02_multimodal_curation": (_ext3.pp02_multimodal_curation, _ext3._pp02_sql(TX07_SQL)),
    "ks01_keep_best_per_cluster": (_ext3.ks01_keep_best_per_cluster, _ext3._ks01_sql(DD04_SQL)),
    "ev01_linkage_eval": (_ext3.ev01_linkage_eval, _ext3._ev01_sql(SH01_SQL, DD02_SQL)),
    # part 4: embedding quantization/geometry, feature hashing, padding
    # economics, vocab sizing, TPC-H Q22 anti-join shape
    **_ext4.QUERIES4,
}

# The driver's correctness gate only covers the first 50 registry
# entries; this list is that window, set per round (changed-code
# re-certs first, then the stalest driver evidence), so no query's last
# driver check keeps aging. The rest of the registry follows in the
# definition order above.
_DRIVER_PRIORITY = [
    # round-13 rotation — generated by tools/rotate_window.py (paste,
    # don't hand-edit; the uniqueness/resolvability test pins the
    # invariants). Head: 2 NEW queries (mm21/mm22 VP9 tier — a new
    # query never waits a round for driver evidence) + 2 changed-code
    # re-certs (xl01/xl02: sidecar cluster-mode guard + post-sheetData
    # scan stop). Backfill: the whole r7 tier (w06/ws01/wz01) then the
    # r8 tier stalest-first per VERDICT r12 item 1; 4 r9 rows enter,
    # the rest defer to r14.
    # proposed window (50 slots): 4 changed + 0 red-latest + 0 new + 46 stalest-first backfill
    "mm21_vp9_frame_metadata",  # evidence r—
    "mm22_mp4_vpcc_qa",  # evidence r—
    "xl01_xlsx_roundtrip",  # evidence r12
    "xl02_xlsx_sidecar_roundtrip",  # evidence r12
    "w06_group_zscores",  # evidence r7
    "ws01_weighted_sample",  # evidence r7
    "wz01_winsorized_stats",  # evidence r7
    "ann05_pq_topk",  # evidence r8
    "ann06_ivfpq_topk",  # evidence r8
    "ann07_ivfpq_refine_topk",  # evidence r8
    "bfs01_reach_levels",  # evidence r8
    "br01_boolean_retrieval",  # evidence r8
    "cf01_cascade_filter",  # evidence r8
    "cu01_curriculum_schedule",  # evidence r8
    "dc03_semantic_decontaminate",  # evidence r8
    "dd08_dedup_savings",  # evidence r8
    "ev02_ann_recall",  # evidence r8
    "ev04_gate_calibration",  # evidence r8
    "ev05_gate_kappa",  # evidence r8
    "ev06_quality_auc",  # evidence r8
    "fh01_feature_hashing",  # evidence r8
    "gr01_pagerank",  # evidence r8
    "gr02_star_components",  # evidence r8
    "gs01_grouping_sets",  # evidence r8
    "hn01_hard_negatives",  # evidence r8
    "im01_class_weight_plan",  # evidence r8
    "ka01_k_anonymity",  # evidence r8
    "mk01_mlm_masking_plan",  # evidence r8
    "mm12_gif_decode",  # evidence r8
    "mm13_gif_animation_frames",  # evidence r8
    "mm14_resized_thumbs",  # evidence r8
    "mx02_token_budget_fill",  # evidence r8
    "mx03_temperature_mixture",  # evidence r8
    "pb01_padding_efficiency",  # evidence r8
    "pk01_sequence_packing",  # evidence r8
    "px03_pii_density",  # evidence r8
    "q07_promo_revenue_share",  # evidence r8
    "q08_idle_customers",  # evidence r8
    "qn01_int8_quantize",  # evidence r8
    "rp01_corpus_datacard",  # evidence r8
    "sa01_skew_audit",  # evidence r8
    "sp03_group_safe_split",  # evidence r8
    "tk03_vocab_coverage",  # evidence r8
    "tk04_vocab_coverage_curve",  # evidence r8
    "tx17_url_normalize",  # evidence r8
    "uv01_unpivot_part_attrs",  # evidence r8
    "a02_member_rollup",  # evidence r9
    "a03_push_summary",  # evidence r9
    "a05_error_summary_24h",  # evidence r9
    "a07_status_priority_rollup",  # evidence r9
]

REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    **{name: _QUERIES[name] for name in _DRIVER_PRIORITY},
    **_QUERIES,
}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
