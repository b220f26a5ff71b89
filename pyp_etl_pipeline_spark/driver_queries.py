"""Driver-contract queries: Spark implementations + DuckDB oracle SQL twins.

Each entry exercises one operator family from SURVEY.md §2 on the driver's
parquet tables. The oracle SQL is generated from the SAME semantic tables
(``pyp_etl_pipeline_spark.schema``) as the Spark expressions, so the two
sides cannot drift apart silently. Column aliases match exactly; doubles
are rounded on both sides; deterministic tie-breaks everywhere a top-k or
LIMIT appears.

Registry format: name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyp_etl_pipeline_spark import schema as S
from pyp_etl_pipeline_spark.functions import nulls, scoring, text, validation
from pyp_etl_pipeline_spark.functions.aggregates import (  # noqa: F401  (re-exported for SQL twins)
    exact_avg,
    exact_sum,
    sql_exact_avg,
    sql_exact_sum,
)
from pyp_etl_pipeline_spark.operators import dedup, explode, guard, offerings, similarity, textan, upsert, windows
from pyp_etl_pipeline_spark.tables import load_table

# --------------------------------------------------------------------------
# DuckDB SQL fragment builders (mirror the Spark column expressions 1:1)
# --------------------------------------------------------------------------

SENTINELS_SQL = ", ".join(f"'{s}'" for s in S.SENTINEL_NULLS)


def sql_null_normalize(x: str) -> str:
    return f"(CASE WHEN {x} IS NULL OR lower(trim({x})) IN ({SENTINELS_SQL}) THEN NULL ELSE trim({x}) END)"


def sql_process(x: str) -> str:
    """scoring.process_text (rapidfuzz default_process): lowercase,
    non-alphanumeric -> space, trim ends. 'g' flag: DuckDB regexp_replace
    replaces only the first match without it."""
    return f"trim(regexp_replace(lower({x}), '[^a-z0-9]', ' ', 'g'))"


def sql_tokens(x: str) -> str:
    """scoring.tokens: sorted distinct whitespace tokens of the
    default_process'd string."""
    return (
        f"list_sort(list_distinct(list_filter(string_split_regex({sql_process(x)}, '\\s+'), w -> w <> '')))"
    )


def sql_ratio(a: str, b: str) -> str:
    """scoring.ratio: rapidfuzz-style sum-of-lengths normalization."""
    return (
        f"(CASE WHEN length({a}) + length({b}) = 0 THEN 100.0 "
        f"ELSE 100.0 * (1.0 - levenshtein({a}, {b}) / (length({a}) + length({b}))) END)"
    )


def sql_containment_ratio(a: str, b: str) -> str:
    la, lb = sql_process(a), sql_process(b)
    return f"(CASE WHEN contains({la}, {lb}) OR contains({lb}, {la}) THEN 100.0 ELSE {sql_ratio(la, lb)} END)"


def sql_word_count(x: str) -> str:
    return f"len(list_filter(string_split_regex(trim({x}), '\\s+'), w -> w <> ''))"


def sql_has_dietary(x: str) -> str:
    return "(" + " OR ".join(f"contains(lower({x}), '{t}')" for t in S.DIETARY_TERMS) + ")"


def sql_special_count(x: str) -> str:
    return f"(length({x}) - length(regexp_replace({x}, '[!@#$%^&*()]', '', 'g')))"


def sql_penalties(score: str, t: str, m: str) -> str:
    """scoring.apply_match_penalties (same subtraction order)."""
    return (
        f"greatest({score} "
        f"- (abs(length({t}) - length({m})) / greatest(length({t}), length({m}), 1)) * {S.LENGTH_PENALTY_MULTIPLIER} "
        f"- least(abs({sql_word_count(t)} - {sql_word_count(m)}) * {S.WORD_COUNT_PENALTY_MULTIPLIER}, {S.WORD_COUNT_PENALTY_CAP}) "
        f"- (CASE WHEN {sql_has_dietary(t)} <> {sql_has_dietary(m)} THEN {S.DIETARY_TERMS_PENALTY} ELSE 0.0 END) "
        f"- (CASE WHEN {sql_special_count(t)} <> {sql_special_count(m)} THEN {S.SPECIAL_CHARS_PENALTY} ELSE 0.0 END) "
        f"- (CASE WHEN regexp_matches({t}, '[0-9]') <> regexp_matches({m}, '[0-9]') THEN {S.NUMBERS_PENALTY} ELSE 0.0 END)"
        f", 0.0)"
    )


def sql_band(score: str) -> str:
    return (
        f"(CASE WHEN {score} >= {S.AUTO_RESOLVE_THRESHOLD} THEN 'auto_resolve' "
        f"WHEN {score} >= {S.AUTO_REJECT_THRESHOLD} THEN 'review' ELSE 'reject' END)"
    )


def sql_semantic_guard(o: str, s: str) -> str:
    """operators.guard.semantically_valid_match, generated from the same tables."""
    conds = [
        f"{o} IS NOT NULL",
        f"{s} IS NOT NULL",
        f"length({o}) > 0",
        f"length({s}) > 0",
    ]
    for category, keywords in S.CATEGORY_KEYWORDS.items():
        oh = "(" + " OR ".join(f"contains({o}, '{k}')" for k in keywords) + ")"
        sh = "(" + " OR ".join(f"contains({s}, '{k}')" for k in keywords) + ")"
        mismatch = f"({oh} <> {sh})"
        if category == "omega":
            mismatch = f"({mismatch} AND NOT (contains({o}, 'omega') OR contains({s}, 'omega')))"
        conds.append(f"NOT {mismatch}")
    for p1, p2 in S.PROBLEMATIC_PAIRS:
        conds.append(f"NOT (contains({o}, '{p1}') AND contains({s}, '{p2}'))")
        conds.append(f"NOT (contains({o}, '{p2}') AND contains({s}, '{p1}'))")
    conds.append(f"(least(length({o}), length({s})) / greatest(length({o}), length({s})) >= {S.GUARD_MIN_LENGTH_RATIO})")
    return "(" + "\n    AND ".join(conds) + ")"


def sql_variant_normalize(x: str) -> str:
    out = x
    for pattern, replacement in S.VARIANT_RULES:
        out = f"regexp_replace({out}, '(?i){pattern}', '{replacement}', 'g')"
    return out


def sql_normalized_text(x: str) -> str:
    """dedup.normalized_text: trim(collapse_ws(lower(x)))."""
    return f"trim(regexp_replace(lower({x}), '\\s+', ' ', 'g'))"


def sql_capital_case(t: str) -> str:
    """text.capital_case as DuckDB SQL: per-word Capital Case with
    stopwords lowercased unless first, each '-'/'.' segment capitalized
    (indexed list lambdas; DuckDB indexes are 1-based vs Spark's 0-based)."""
    capseg = "(CASE WHEN length(s) = 0 THEN s ELSE upper(substring(s, 1, 1)) || lower(substring(s, 2)) END)"
    capword = (
        "array_to_string(list_transform(string_split(w, '-'), "
        f"p -> array_to_string(list_transform(string_split(p, '.'), s -> {capseg}), '.')), '-')"
    )
    stop = "[" + ", ".join(f"'{s_}'" for s_ in S.CAPITAL_CASE_STOPWORDS) + "]"
    word = f"CASE WHEN i > 1 AND list_contains({stop}, lower(w)) THEN lower(w) ELSE {capword} END"
    return f"array_to_string(list_transform(string_split({t}, ' '), (w, i) -> {word}), ' ')"


def sql_normalize_offering(x: str) -> str:
    """text.normalize_offering_text: T2 collapse -> T3 variants -> T4
    punctuation strip -> T5 Capital Case -> T2 again."""
    out = f"trim(regexp_replace({x}, '\\s+', ' ', 'g'))"
    out = sql_variant_normalize(out)
    out = f"""regexp_replace({out}, '[,;!?''"\\[\\]{{}}]', '', 'g')"""
    out = sql_capital_case(out)
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def sql_shingles(toks: str, n: int = 3) -> str:
    """dedup.word_shingles over a token-list expression."""
    gram = f"list_transform(generate_series(1, len({toks}) - {n - 1}), i -> array_to_string({toks}[i:i+{n - 1}], ' '))"
    whole = f"[array_to_string({toks}, ' ')]"
    return f"list_distinct(CASE WHEN len({toks}) >= {n} THEN {gram} ELSE {whole} END)"


# --------------------------------------------------------------------------
# TPC-H-ish core queries (scans, filters, joins, aggregations)
# --------------------------------------------------------------------------

def flagship_band_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship: the reference pipeline shape on TPC-H-ish data —
    validate-filter (F1-F2) -> broadcast exact join (J1) -> band column (J6)
    -> rollup (A1/A2). SURVEY.md §7 stage 0."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    valid = (F.col("l_extendedprice") > 0) & (F.col("l_quantity") >= 1)
    score = 100.0 * (1.0 - F.col("l_discount"))
    return (
        li.filter(valid)
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("band", scoring.band(score))
        .groupBy("p_brand", "band")
        .agg(
            F.count("*").alias("n_items"),
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


FLAGSHIP_SQL = f"""
SELECT p_brand, {sql_band("(100.0 * (1.0 - l_discount))")} AS band,
       count(*) AS n_items,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_extendedprice > 0 AND l_quantity >= 1
GROUP BY 1, 2
"""


def q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    from pyp_etl_pipeline_spark.functions.aggregates import (  # noqa: PLC0415
        finalize_avg,
        finalize_sum,
        micro_col,
    )

    # seven aggregates share five inputs — pre-project the micro-unit
    # conversions ONCE (aggregate-buffer expressions aren't reliably
    # deduplicated; doing the floor+multiply per aggregate measured ~1.6x)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pre = li.filter(F.col("l_shipdate") <= "1998-09-02").select(
        "l_returnflag",
        "l_linestatus",
        micro_col("l_quantity").alias("m_qty"),
        micro_col("l_extendedprice").alias("m_price"),
        micro_col(disc_price).alias("m_disc_price"),
        micro_col(disc_price * (1 + F.col("l_tax"))).alias("m_charge"),
        micro_col("l_discount").alias("m_disc"),
    )
    agg = pre.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("m_qty").alias("s_qty"),
        F.sum("m_price").alias("s_price"),
        F.sum("m_disc_price").alias("s_disc_price"),
        F.sum("m_charge").alias("s_charge"),
        F.sum("m_disc").alias("s_disc"),
        F.count("*").alias("count_order"),
    )
    n = F.col("count_order")  # lineitem money columns are never null
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        finalize_sum(F.col("s_qty")).alias("sum_qty"),
        finalize_sum(F.col("s_price")).alias("sum_base_price"),
        finalize_sum(F.col("s_disc_price")).alias("sum_disc_price"),
        finalize_sum(F.col("s_charge")).alias("sum_charge"),
        finalize_avg(F.col("s_qty"), n).alias("avg_qty"),
        finalize_avg(F.col("s_price"), n).alias("avg_price"),
        finalize_avg(F.col("s_disc"), n).alias("avg_disc"),
        "count_order",
    )


Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_exact_sum('l_quantity')} AS sum_qty,
       {sql_exact_sum('l_extendedprice')} AS sum_base_price,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {sql_exact_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {sql_exact_avg('l_quantity')} AS avg_qty,
       {sql_exact_avg('l_extendedprice')} AS avg_price,
       {sql_exact_avg('l_discount')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


def q02_top_revenue_orders(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    # decimal per-order revenue: exact, order-free (see exact_sum) — and the
    # ORDER BY ranks identical exact values in both engines
    rev = li.groupBy("l_orderkey").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,8)")).alias("__rev")
    )
    return (
        rev.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority", F.round("__rev", 2).cast("double").alias("revenue"))
        .orderBy(F.desc("__rev"), F.asc("o_orderkey"))
        .limit(10)
    )


Q02_SQL = """
WITH rev AS (
  SELECT l_orderkey, sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS r
  FROM lineitem GROUP BY 1
)
SELECT o_orderkey, o_orderdate, o_orderpriority, CAST(round(r, 2) AS DOUBLE) AS revenue
FROM rev JOIN orders ON l_orderkey = o_orderkey
ORDER BY r DESC, o_orderkey ASC
LIMIT 10
"""


def q03_region_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q03_SQL = f"""
SELECT r_name,
       {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1
"""


def q04_mktsegment_summary(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    return (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum("o_totalprice").alias("sum_totalprice"),
            exact_avg("o_totalprice").alias("avg_totalprice"),
        )
    )


Q04_SQL = f"""
SELECT c_mktsegment,
       count(*) AS n_orders,
       {sql_exact_sum('o_totalprice')} AS sum_totalprice,
       {sql_exact_avg('o_totalprice')} AS avg_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


# --------------------------------------------------------------------------
# F/T operators: sentinel nulls, validation, text normalization
# --------------------------------------------------------------------------

_F01_RAW = (
    "CASE WHEN c_custkey % 7 = 0 THEN 'N/A' WHEN c_custkey % 7 = 1 THEN '' "
    "WHEN c_custkey % 7 = 2 THEN 'null' WHEN c_custkey % 7 = 3 THEN '  UNSET  ' "
    "ELSE c_mktsegment END"
)


def f01_sentinel_nulls(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    raw = (
        F.when(F.col("c_custkey") % 7 == 0, F.lit("N/A"))
        .when(F.col("c_custkey") % 7 == 1, F.lit(""))
        .when(F.col("c_custkey") % 7 == 2, F.lit("null"))
        .when(F.col("c_custkey") % 7 == 3, F.lit("  UNSET  "))
        .otherwise(F.col("c_mktsegment"))
    )
    return c.select(nulls.null_normalize(raw).alias("segment")).groupBy("segment").agg(F.count("*").alias("n"))


F01_SQL = f"""
SELECT {sql_null_normalize(_F01_RAW)} AS segment, count(*) AS n
FROM customer GROUP BY 1
"""


def f02_row_validation(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    name = F.when(F.col("c_custkey") % 11 == 0, F.concat(F.lit("<"), F.col("c_name"))).otherwise(F.col("c_name"))
    email = F.concat(
        F.lit("user"),
        F.col("c_custkey").cast("string"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("@bad")).otherwise(F.lit("@example.com")),
    )
    return (
        c.select(
            validation.valid_business_name(name).alias("valid_name"),
            validation.valid_email(email).alias("valid_email"),
        )
        .groupBy("valid_name", "valid_email")
        .agg(F.count("*").alias("n"))
    )


_F02_NAME = "(CASE WHEN c_custkey % 11 = 0 THEN '<' || c_name ELSE c_name END)"
_F02_EMAIL = "('user' || CAST(c_custkey AS VARCHAR) || (CASE WHEN c_custkey % 5 = 0 THEN '@bad' ELSE '@example.com' END))"
F02_SQL = f"""
SELECT ({_F02_NAME} IS NOT NULL AND length(trim({_F02_NAME})) BETWEEN 2 AND 200
        AND NOT regexp_matches({_F02_NAME}, '[<>"'']')) AS valid_name,
       ({_F02_EMAIL} IS NULL OR regexp_matches({_F02_EMAIL}, '^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}$')) AS valid_email,
       count(*) AS n
FROM customer GROUP BY 1, 2
"""


def t01_sanitize_collapse(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    raw = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.lit("<b>"), F.col("text"), F.lit("</b>  <i>extra</i>"))
    ).otherwise(F.col("text"))
    out = text.collapse_whitespace(text.sanitize_string(raw))
    return d.select("doc_id", F.md5(out).alias("sanitized_fp"), F.length(out).cast("long").alias("n_chars"))


_T01_RAW = "(CASE WHEN doc_id % 5 = 0 THEN '<b>' || text || '</b>  <i>extra</i>' ELSE text END)"
_T01_ESCAPED = (
    "replace(replace(replace(replace(replace("
    f"regexp_replace(trim({_T01_RAW}), '<[^>]+>', '', 'g')"
    ", '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '\"', '&quot;'), '''', '&#x27;')"
)
_T01_OUT = f"regexp_replace({_T01_ESCAPED}, '\\s+', ' ', 'g')"
T01_SQL = f"""
SELECT doc_id, md5({_T01_OUT}) AS sanitized_fp, length({_T01_OUT}) AS n_chars
FROM documents
"""

_T02_CASES = [
    "vit c serum",
    "omega 3 supplement",
    "B. adolescentis strain",
    "monk fruit extract",
    "co q 10 capsules",
    "gelatine powder",
    "xanthan gum mix",
    "raw CoQ10",
    "probiotics blend",
    "plain oats",
]


def t02_variant_normalize(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    raw = F.lit(None).cast("string")
    expr = None
    for i, case in enumerate(_T02_CASES):
        cond = F.col("doc_id") % len(_T02_CASES) == i
        expr = F.when(cond, F.lit(case)) if expr is None else expr.when(cond, F.lit(case))
    raw = expr.otherwise(F.lit(""))
    return d.select("doc_id", raw.alias("raw"), text.variant_normalize(raw).alias("normalized"))


_T02_RAW = (
    "(CASE "
    + " ".join(f"WHEN doc_id % {len(_T02_CASES)} = {i} THEN '{c}'" for i, c in enumerate(_T02_CASES))
    + " ELSE '' END)"
)
T02_SQL = f"""
SELECT doc_id, {_T02_RAW} AS raw, {sql_variant_normalize(_T02_RAW)} AS normalized
FROM documents
"""

_T05_CASES = [
    "omega-3 fish oil",
    "b.adolescentis culture of the gut",
    "the best of the best",
    "co q 10 and vitamin c",
    "GLUTEN-FREE granola",
    "plain text here",
]


def t05_capital_case(spark: SparkSession, sf: str) -> DataFrame:
    """Full normalize_offering_text chain (T2-T5), oracle-checked: the
    DuckDB twin reproduces the stopword/hyphen/dot Capital-Case with
    indexed list lambdas (golden tests additionally pin edge cases)."""
    d = load_table(spark, sf, "documents")
    expr = None
    for i, case in enumerate(_T05_CASES):
        cond = F.col("doc_id") % len(_T05_CASES) == i
        expr = F.when(cond, F.lit(case)) if expr is None else expr.when(cond, F.lit(case))
    raw = expr.otherwise(F.lit(""))
    return d.select("doc_id", raw.alias("raw"), text.normalize_offering_text(raw).alias("normalized"))


def _t05_sql() -> str:
    n = len(_T05_CASES)
    case_expr = (
        "(CASE "
        + " ".join(f"WHEN doc_id % {n} = {i} THEN '{c}'" for i, c in enumerate(_T05_CASES))
        + " ELSE '' END)"
    )
    return f"""
WITH raws AS (SELECT doc_id, {case_expr} AS raw FROM documents)
SELECT doc_id, raw, {sql_normalize_offering("raw")} AS normalized FROM raws
"""


T05_SQL = _t05_sql()


# --------------------------------------------------------------------------
# E/U operators: explode, dedup, unions
# --------------------------------------------------------------------------

_E01_CELL_SPARK = lambda: F.concat(F.col("p_name"), F.lit(";"), F.col("p_brand"), F.lit(","), F.col("p_type"))  # noqa: E731
_E01_CELL_SQL = "(p_name || ';' || p_brand || ',' || p_type)"


def e01_explode_multivalue(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part")
    return p.select("p_partkey", F.explode(explode.split_multi_value(_E01_CELL_SPARK())).alias("item"))


E01_SQL = f"""
SELECT p_partkey, item FROM (
  SELECT p_partkey,
         unnest(list_filter(list_transform(string_split_regex({_E01_CELL_SQL}, '[;,]'), x -> trim(x)), x -> x <> '')) AS item
  FROM part
)
"""


def e02_explode_dedup(spark: SparkSession, sf: str) -> DataFrame:
    return e01_explode_multivalue(spark, sf).select("p_partkey", F.lower(F.col("item")).alias("item")).distinct()


E02_SQL = f"SELECT DISTINCT p_partkey, lower(item) AS item FROM ({E01_SQL})"


def u01_union_kinds(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part")
    frames = [
        p.select(F.lit("name").alias("kind"), F.col("p_name").alias("value")),
        p.select(F.lit("brand").alias("kind"), F.col("p_brand").alias("value")),
        p.select(F.lit("type").alias("kind"), F.col("p_type").alias("value")),
        p.select(F.lit("size").alias("kind"), F.col("p_size").cast("string").alias("value")),
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.groupBy("kind").agg(F.count("*").alias("n_rows"), F.countDistinct("value").alias("n_distinct"))


U01_SQL = """
SELECT kind, count(*) AS n_rows, count(DISTINCT value) AS n_distinct FROM (
  SELECT 'name' AS kind, p_name AS value FROM part
  UNION ALL SELECT 'brand', p_brand FROM part
  UNION ALL SELECT 'type', p_type FROM part
  UNION ALL SELECT 'size', CAST(p_size AS VARCHAR) FROM part
) GROUP BY 1
"""

# token dictionary used by J1/J10/J12/A2: tokens of parts with p_partkey % 3 = 0
_DIM_TOKENS_SQL = """
(SELECT DISTINCT tok AS title, 'dim:' || md5(tok) AS ext_id FROM (
   SELECT unnest(string_split(p_name, ' ')) AS tok FROM part WHERE p_partkey % 3 = 0
 ) WHERE tok <> '')
"""
_ITEM_TOKENS_SQL = """
(SELECT p_partkey, tok AS item FROM (
   SELECT p_partkey, unnest(string_split(p_name, ' ')) AS tok FROM part
 ) WHERE tok <> '')
"""


def _dim_tokens(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part")
    return (
        p.filter(F.col("p_partkey") % 3 == 0)
        .select(F.explode(F.split("p_name", " ")).alias("title"))
        .filter(F.col("title") != "")
        .distinct()
        .select("title", F.concat(F.lit("dim:"), F.md5("title")).alias("ext_id"))
    )


def _item_tokens(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part")
    return (
        p.select("p_partkey", F.explode(F.split("p_name", " ")).alias("item")).filter(F.col("item") != "")
    )


# --------------------------------------------------------------------------
# J operators: exact resolution, merge, dim upsert, backfill, offerings, guard
# --------------------------------------------------------------------------

def j01_exact_resolution(spark: SparkSession, sf: str) -> DataFrame:
    from pyp_etl_pipeline_spark.operators.resolve import exact_resolve  # noqa: PLC0415

    items = _item_tokens(spark, sf)
    dim = _dim_tokens(spark, sf)
    out = exact_resolve(items, dim, item_col="item", title_col="title", id_col="ext_id")
    return out.select("p_partkey", "item", "matched_id", "matched_title", "resolved", "score")


J01_SQL = f"""
SELECT i.p_partkey, i.item, d.ext_id AS matched_id, d.title AS matched_title,
       d.ext_id IS NOT NULL AS resolved,
       CASE WHEN d.ext_id IS NOT NULL THEN CAST(100.0 AS DOUBLE) END AS score
FROM {_ITEM_TOKENS_SQL} i
LEFT JOIN {_DIM_TOKENS_SQL} d ON lower(trim(i.item)) = lower(trim(d.title))
"""


def a02_member_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """A4/U2: distinct matched IDs per part as a sorted joined string."""
    resolved = j01_exact_resolution(spark, sf)
    return resolved.groupBy("p_partkey").agg(
        F.array_join(F.sort_array(F.collect_set("matched_id")), ",").alias("all_ids"),
        F.count("*").alias("n_items"),
    )


A02_SQL = f"""
SELECT p_partkey,
       coalesce(array_to_string(list_sort(array_agg(DISTINCT matched_id) FILTER (matched_id IS NOT NULL)), ','), '') AS all_ids,
       count(*) AS n_items
FROM ({J01_SQL})
GROUP BY 1
"""


def j09_merge_actions(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    staged = c.filter(F.col("c_custkey") % 2 == 0).select(F.col("c_name").alias("businessName"))
    sink = c.filter(F.col("c_custkey") % 3 == 0).select(F.col("c_name").alias("businessName"))
    return upsert.merge_classify(staged, sink, key="businessName")


J09_SQL = """
WITH s AS (SELECT DISTINCT lower(trim(c_name)) AS mk, c_name AS staged_name FROM customer WHERE c_custkey % 2 = 0),
     t AS (SELECT DISTINCT lower(trim(c_name)) AS mk, c_name AS sink_name FROM customer WHERE c_custkey % 3 = 0)
SELECT coalesce(s.mk, t.mk) AS merge_key,
       coalesce(staged_name, sink_name) AS name,
       CASE WHEN staged_name IS NOT NULL AND sink_name IS NOT NULL THEN 'update'
            WHEN staged_name IS NOT NULL THEN 'insert'
            ELSE 'sink_only' END AS action
FROM s FULL OUTER JOIN t ON s.mk = t.mk
"""


def j10_dim_lookup_or_create(spark: SparkSession, sf: str) -> DataFrame:
    items = _item_tokens(spark, sf).select(F.col("item").alias("title"))
    dim = _dim_tokens(spark, sf)
    return upsert.dim_lookup_or_create(items, dim, staged_title="title", dim_title="title", dim_id="ext_id")


J10_SQL = f"""
WITH items AS (SELECT DISTINCT item AS title FROM {_ITEM_TOKENS_SQL})
SELECT i.title,
       coalesce(d.ext_id, 'gen:' || md5(lower(trim(i.title)))) AS final_id,
       d.ext_id IS NULL AS is_new
FROM items i LEFT JOIN {_DIM_TOKENS_SQL} d ON lower(trim(i.title)) = lower(trim(d.title))
"""


def j12_canonical_backfill(spark: SparkSession, sf: str) -> DataFrame:
    from pyp_etl_pipeline_spark.operators.review import backfill_canonical_names  # noqa: PLC0415

    items = _item_tokens(spark, sf).select(F.col("item")).distinct()
    dim = _dim_tokens(spark, sf)
    staged = items.join(
        dim.select(F.col("title").alias("__t"), F.col("ext_id").alias("__id")),
        F.col("item") == F.col("__t"),
        "left",
    ).select("item", F.col("__id").alias("matched_canonical_id"), F.upper(F.col("item")).alias("suggested_name"))
    out = backfill_canonical_names(staged, dim, id_col="matched_canonical_id")
    return out.select("item", "matched_canonical_id", "suggested_name", "display_name")


J12_SQL = f"""
WITH items AS (SELECT DISTINCT item FROM {_ITEM_TOKENS_SQL}),
     staged AS (
       SELECT i.item, d.ext_id AS matched_canonical_id, upper(i.item) AS suggested_name
       FROM items i LEFT JOIN {_DIM_TOKENS_SQL} d ON i.item = d.title
     )
SELECT s.item, s.matched_canonical_id, s.suggested_name,
       coalesce(d2.title, s.suggested_name) AS display_name
FROM staged s LEFT JOIN {_DIM_TOKENS_SQL} d2 ON s.matched_canonical_id = d2.ext_id
"""

# j11: synthetic presence-driven fields on customer
_J11_FIELDS = {
    "designServices": (2, "'design studio'", "'n/a'"),
    "suppliedEquipment": (3, "'lathe'", "''"),
    "facilityEquipment": (5, "'mixers'", "'null'"),
    "ingredients": (4, "'salt; sugar'", "'none'"),
    "marketingServices": (7, "'ads'", "'na'"),
    "manufacturingServices": (11, "'cnc'", "''"),
    "products": (6, "'widgets'", "'nan'"),
}


def j11_offerings_derivation(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    df = c.select(
        "c_custkey",
        *[
            F.when(F.col("c_custkey") % m == 0, F.lit(yes.strip("'"))).otherwise(F.lit(no.strip("'"))).alias(f)
            for f, (m, yes, no) in _J11_FIELDS.items()
        ],
    )
    out = offerings.derive_offerings(df)
    return out.select("c_custkey", F.explode("offerings").alias("o")).select(
        "c_custkey", F.col("o.title").alias("title"), F.col("o.uid").alias("uid"), F.col("o.source_field").alias("source_field")
    )


def _j11_sql() -> str:
    uid = {t: u for _, t, u in S.OFFERING_RULES}
    m = {f: mod for f, (mod, _, _) in _J11_FIELDS.items()}
    selects = [
        f"SELECT c_custkey, 'Design' AS title, '{uid['Design']}' AS uid, 'designServices' AS source_field FROM customer WHERE c_custkey % {m['designServices']} = 0",
        f"SELECT c_custkey, 'Equipment', '{uid['Equipment']}', 'suppliedEquipment' FROM customer WHERE c_custkey % {m['suppliedEquipment']} = 0",
        f"SELECT c_custkey, 'Equipment', '{uid['Equipment']}', 'facilityEquipment' FROM customer WHERE c_custkey % {m['facilityEquipment']} = 0 AND NOT c_custkey % {m['suppliedEquipment']} = 0",
        f"SELECT c_custkey, 'Ingredients', '{uid['Ingredients']}', 'ingredients' FROM customer WHERE c_custkey % {m['ingredients']} = 0",
        f"SELECT c_custkey, 'Marketing', '{uid['Marketing']}', 'marketingServices' FROM customer WHERE c_custkey % {m['marketingServices']} = 0",
        f"SELECT c_custkey, 'Manufacturing', '{uid['Manufacturing']}', 'manufacturingServices' FROM customer WHERE c_custkey % {m['manufacturingServices']} = 0",
        f"SELECT c_custkey, 'Manufacturing', '{uid['Manufacturing']}', 'products' FROM customer WHERE c_custkey % {m['products']} = 0 AND NOT c_custkey % {m['manufacturingServices']} = 0",
    ]
    return " UNION ALL ".join(selects)


J11_SQL = _j11_sql()

# the playground "live" MemberOffering dim for j15: a subset of titles is
# live (their UID differs from the production fallback), the rest fall back
_J15_LIVE = [("Design", "0xd0001"), ("Equipment", "0xd0002"), ("Manufacturing", "0xd0003")]


def j15_live_uid_fallback(spark: SparkSession, sf: str) -> DataFrame:
    """S6 live-offerings fetch with static fallback: the j11-derived
    offerings re-keyed through a (tiny, broadcast) live MemberOffering
    dim — live offering_id when the title is present, production
    fallback UID otherwise (``offerings.resolve_uids``; reference
    ``app/etl.py:225-320`` ``offerings_map.get(title, fallback)``)."""
    derived = j11_offerings_derivation(spark, sf)
    live = spark.createDataFrame(_J15_LIVE, "title string, offering_id string")
    return offerings.resolve_uids(derived, live).select(
        "c_custkey", "title", "uid", "source_field"
    )


def _j15_sql() -> str:
    vals = ", ".join(f"('{t}', '{u}')" for t, u in _J15_LIVE)
    return f"""
WITH derived AS ({J11_SQL}),
live(title, offering_id) AS (VALUES {vals})
SELECT d.c_custkey, d.title, coalesce(l.offering_id, d.uid) AS uid, d.source_field
FROM derived d LEFT JOIN live l ON d.title = l.title
"""


J15_SQL = _j15_sql()

_J08_CASES = [
    ("Vitamin C", "Vitamin C Powder"),
    ("Vitamin D", "Amino Acid Blend"),
    ("Calcium Citrate", "Calcium Carbonate"),
    ("Food Additive", "Industrial Adhesive"),
    ("Omega 3 Fish Oil", "Omega 6 Oil"),
    ("Probiotic Culture", "Prebiotic Fiber Inulin"),
    ("Sea Salt", "Himalayan Pink Sea Salt Crystals Extra"),
    ("Organic Honey", "Honey"),
]


def j08_semantic_guard(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    orig, sugg = None, None
    for i, (o, s_) in enumerate(_J08_CASES):
        cond = F.col("doc_id") % len(_J08_CASES) == i
        orig = F.when(cond, F.lit(o)) if orig is None else orig.when(cond, F.lit(o))
        sugg = F.when(cond, F.lit(s_)) if sugg is None else sugg.when(cond, F.lit(s_))
    df = d.select("doc_id", orig.alias("original"), sugg.alias("suggested"))
    return df.withColumn("valid", guard.semantically_valid_match("original", "suggested"))


def _j08_sql() -> str:
    n = len(_J08_CASES)
    o_case = "(CASE " + " ".join(f"WHEN doc_id % {n} = {i} THEN '{o}'" for i, (o, _) in enumerate(_J08_CASES)) + " END)"
    s_case = "(CASE " + " ".join(f"WHEN doc_id % {n} = {i} THEN '{s_}'" for i, (_, s_) in enumerate(_J08_CASES)) + " END)"
    return f"""
WITH pairs AS (
  SELECT doc_id, {o_case} AS original, {s_case} AS suggested FROM documents
),
low AS (
  SELECT doc_id, original, suggested, lower(trim(original)) AS ol, lower(trim(suggested)) AS sl FROM pairs
)
SELECT doc_id, original, suggested, {sql_semantic_guard("ol", "sl")} AS valid
FROM low
"""


J08_SQL = _j08_sql()
