"""Driver-contract queries, part 3: validators (F3/F4), text T4/T6,
ordering/limits (O7), summaries (A3/A5), set ops (U2/E3), date functions,
streaming sliding windows, multimodal plumbing — plus the round-7
analytics tier: gap fill (gf01), inverted index (ii01), histogram
quantiles (qt01), linkage eval (ev01), WordPiece apply (tk02),
incremental rollup (ia01), BM25 (bm01), partition pruning (pt01),
stream-stream left outer (st09), JSON extraction (js01), anomaly screen
(ad01), winsorize (wz01), WHT spectrum (mm08), compaction plan (cp01),
readability (tx15), table profiler (pf01), epoch shuffle (ep01).

Every query has a DuckDB oracle twin (the recursive-CTE walks make even
the greedy/iterative ones exactly replayable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyp_etl_pipeline_spark.driver_queries import J09_SQL, j09_merge_actions
from pyp_etl_pipeline_spark.functions import text, validation
from pyp_etl_pipeline_spark.functions.aggregates import exact_avg as _exact_avg
from pyp_etl_pipeline_spark.functions.aggregates import exact_sum as _exact_sum
from pyp_etl_pipeline_spark.tables import (
    load_corpus,
    load_corpus_unique,
    load_table,
    scratch_path,
    synth_media,
)

# --------------------------------------------------------------------------
# F3/F4 name + email validation
# --------------------------------------------------------------------------

_EMAIL_DOMAINS = ["acme.example", "bad domain", "mail.example", ""]


def f03_name_email_validation(spark: SparkSession, sf: str) -> DataFrame:
    """F3 business-name + F4 email validation over synthesized contact rows
    (reference app/etl.py:885-902). Emails cycle through valid/invalid
    shapes; every 5th customer has no email (NULL passes F4)."""
    c = load_table(spark, sf, "customer")
    email = F.when(
        F.col("c_custkey") % 5 == 0, F.lit(None).cast("string")
    ).otherwise(
        F.concat(
            F.lit("user"),
            F.col("c_custkey"),
            F.lit("@"),
            F.element_at(F.array(*[F.lit(d) for d in _EMAIL_DOMAINS]), (F.col("c_custkey") % 4 + 1).cast("int")),
        )
    )
    df = c.select("c_custkey", F.col("c_name").alias("businessName"), email.alias("contactEmail"))
    return df.select(
        "c_custkey",
        "businessName",
        "contactEmail",
        validation.valid_business_name("businessName").alias("name_valid"),
        validation.valid_email("contactEmail").alias("email_valid"),
    )


F03_SQL = f"""
WITH rows_ AS (
  SELECT c_custkey, c_name AS businessName,
         CASE WHEN c_custkey % 5 = 0 THEN NULL
              ELSE 'user' || c_custkey || '@' ||
                   (['{_EMAIL_DOMAINS[0]}', '{_EMAIL_DOMAINS[1]}', '{_EMAIL_DOMAINS[2]}', '{_EMAIL_DOMAINS[3]}'])[(c_custkey % 4 + 1)::INT]
         END AS contactEmail
  FROM customer
)
SELECT c_custkey, businessName, contactEmail,
       businessName IS NOT NULL AND length(trim(businessName)) BETWEEN 2 AND 200
         AND NOT regexp_matches(businessName, '[<>"'']') AS name_valid,
       contactEmail IS NULL OR regexp_matches(contactEmail, '^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}$') AS email_valid
FROM rows_
"""


# --------------------------------------------------------------------------
# T4 punctuation strip + T6 lowercase key
# --------------------------------------------------------------------------

def t03_punct_lower_key(spark: SparkSession, sf: str) -> DataFrame:
    """T4 punctuation strip (keep - . () digits) + T6 lowercase join key on
    a punctuated derivative of part names."""
    p = load_table(spark, sf, "part")
    raw = F.concat(F.col("p_name"), F.lit("; ["), F.col("p_brand"), F.lit("]!? (v1.0)"))
    return p.select(
        "p_partkey",
        raw.alias("raw"),
        text.strip_punctuation(raw).alias("stripped"),
        text.lower_key(text.strip_punctuation(raw)).alias("join_key"),
    )


T03_SQL = """
WITH r AS (SELECT p_partkey, p_name || '; [' || p_brand || ']!? (v1.0)' AS raw FROM part)
SELECT p_partkey, raw,
       regexp_replace(raw, '[,;!?''"\\[\\]{}]', '', 'g') AS stripped,
       lower(trim(regexp_replace(raw, '[,;!?''"\\[\\]{}]', '', 'g'))) AS join_key
FROM r
"""


# --------------------------------------------------------------------------
# q05: SQL-text interface (spark.sql over registered views)
# --------------------------------------------------------------------------

_Q05_TEXT_TMPL = """
SELECT n.n_name AS nation,
       count(DISTINCT o.o_orderkey) AS n_orders,
       -- order-independent exact money sum: double addition flips its
       -- last cent across partition layouts (functions/aggregates.py)
       {revenue_sum} AS revenue
FROM {li} l
JOIN {ord} o ON l.l_orderkey = o.o_orderkey
JOIN {cust} c ON o.o_custkey = c.c_custkey
JOIN {nat} n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderstatus <> 'F'
GROUP BY n.n_name
"""


from pyp_etl_pipeline_spark.driver_queries import sql_exact_avg as _sea
from pyp_etl_pipeline_spark.driver_queries import sql_exact_sum as _ses  # noqa: E402

_Q05_TEXT = _Q05_TEXT_TMPL.replace(
    "{revenue_sum}", _ses("l.l_extendedprice * (1 - l.l_discount)")
)


def q05_sql_interface(spark: SparkSession, sf: str) -> DataFrame:
    """The engine's SQL-text entry point: tables registered as temp views,
    query authored in SQL and planned by Catalyst exactly like the
    DataFrame API (same optimizations, same physical strategies)."""
    import uuid  # noqa: PLC0415

    tag = uuid.uuid4().hex[:8]
    names = {}
    for alias, t in [("li", "lineitem"), ("ord", "orders"), ("cust", "customer"), ("nat", "nation")]:
        v = f"{t}_{tag}"
        load_table(spark, sf, t).createOrReplaceTempView(v)
        names[alias] = v
    return spark.sql(_Q05_TEXT.format(**names))


Q05_SQL = _Q05_TEXT.format(li="lineitem", ord="orders", cust="customer", nat="nation")


# --------------------------------------------------------------------------
# F5 country whitelist semi/anti join
# --------------------------------------------------------------------------

def f05_country_whitelist(spark: SparkSession, sf: str) -> DataFrame:
    """F5: members kept/skipped by whitelist membership (reference
    app/routes.py:1229-1250) — customers whose nation appears in the
    AMERICA/ASIA regions pass; the rest are routed to the skip report.
    Broadcast semi/anti joins, flagged in one pass."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    whitelist = (
        n.join(r, n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_name").isin("AMERICA", "ASIA"))
        .select(F.col("n_nationkey").alias("wl_key"))
    )
    return (
        c.join(F.broadcast(whitelist), c["c_nationkey"] == F.col("wl_key"), "left")
        .select(
            "c_custkey",
            "c_nationkey",
            F.col("wl_key").isNotNull().alias("allowed"),
        )
    )


F05_SQL = """
WITH wl AS (
  SELECT n_nationkey AS wl_key FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name IN ('AMERICA', 'ASIA')
)
SELECT c_custkey, c_nationkey, wl_key IS NOT NULL AS allowed
FROM customer LEFT JOIN wl ON c_nationkey = wl_key
"""


# --------------------------------------------------------------------------
# O7 distinct + sort (template filters)
# --------------------------------------------------------------------------

def o07_distinct_sorted_filters(spark: SparkSession, sf: str) -> DataFrame:
    """O7: distinct sorted filter values (reference reviews.html:193-203)."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    segs = c.select(F.lit("segment").alias("kind"), F.col("c_mktsegment").alias("value")).distinct()
    nats = n.select(F.lit("nation").alias("kind"), F.col("n_name").alias("value")).distinct()
    return segs.unionByName(nats).orderBy("kind", "value")


O07_SQL = """
SELECT * FROM (
  SELECT DISTINCT 'segment' AS kind, c_mktsegment AS value FROM customer
  UNION SELECT DISTINCT 'nation', n_name FROM nation
) ORDER BY kind, value
"""


# --------------------------------------------------------------------------
# A3 push summary (action counts) + A5 error summary w/ 24h cutoff
# --------------------------------------------------------------------------

def a03_push_summary(spark: SparkSession, sf: str) -> DataFrame:
    """A3: members created/updated/skipped counts from the merge
    classification (reference app/routes.py:2019-2028)."""
    return j09_merge_actions(spark, sf).groupBy("action").agg(F.count("*").alias("n_members"))


A03_SQL = f"SELECT action, count(*) AS n_members FROM ({J09_SQL}) GROUP BY 1"


def a05_error_summary_24h(spark: SparkSession, sf: str) -> DataFrame:
    """A5: last-24h event counts per category relative to the corpus max
    timestamp (reference app/error_utils.py:224-244), with day bucketing
    (``:54-56``) — exercises the date/time function surface of §2.10."""
    e = load_table(spark, sf, "events")
    # one lazy plan: broadcast the 1-row max-ts aggregate and ride it as a
    # cross join instead of a driver-side collect round-trip (the scalar
    # would otherwise cost an extra job per run)
    cutoff = e.agg((F.max("ts") - F.expr("INTERVAL 24 HOURS")).alias("__cut"))
    return (
        e.join(F.broadcast(cutoff))
        .filter(F.col("ts") >= F.col("__cut"))
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            F.col("event_type").alias("category"),
        )
        .agg(
            F.count("*").alias("n_errors"),
            _exact_avg("value").alias("avg_value"),
        )
    )


A05_SQL = f"""
WITH cut AS (SELECT max(ts) - INTERVAL 24 HOURS AS c FROM events)
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type AS category,
       count(*) AS n_errors, {_sea("value")} AS avg_value
FROM events, cut WHERE ts >= cut.c
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# U2/E3: ID-array union + cross-link dedup
# --------------------------------------------------------------------------

def u02_idarray_union(spark: SparkSession, sf: str) -> DataFrame:
    """U2: per-nation union of distinct customer segments and supplier
    account-balance signs — existing ∪ resolved ID-set union shape
    (reference app/routes.py:1584-1586) as sorted joined strings."""
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    cseg = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.collect_set("c_mktsegment").alias("a")
    )
    sseg = s.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.collect_set(F.when(F.col("s_acctbal") >= 0, "POS").otherwise("NEG")).alias("b")
    )
    return (
        cseg.join(sseg, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.array_join(
                F.array_sort(F.array_union(F.coalesce("a", F.array()), F.coalesce("b", F.array()))), ","
            ).alias("all_tags"),
        )
    )


U02_SQL = """
WITH cseg AS (SELECT c_nationkey AS nationkey, array_agg(DISTINCT c_mktsegment) AS a FROM customer GROUP BY 1),
     sseg AS (SELECT s_nationkey AS nationkey, array_agg(DISTINCT CASE WHEN s_acctbal >= 0 THEN 'POS' ELSE 'NEG' END) AS b FROM supplier GROUP BY 1)
SELECT coalesce(cseg.nationkey, sseg.nationkey) AS nationkey,
       array_to_string(list_sort(list_distinct(coalesce(a, []) || coalesce(b, []))), ',') AS all_tags
FROM cseg FULL OUTER JOIN sseg ON cseg.nationkey = sseg.nationkey
"""


def e03_crosslink_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """E3: don't re-link IDs already attached (reference
    app/routes.py:1440-1447): per order, the lineitem part keys NOT in the
    order's already-linked set (even lineitem numbers)."""
    li = load_table(spark, sf, "lineitem")
    linked = li.filter(F.col("l_linenumber") % 2 == 0).groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("linked")
    )
    allp = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("all_parts"))
    return allp.join(linked, "l_orderkey", "left").select(
        "l_orderkey",
        F.array_join(
            F.array_sort(F.array_except("all_parts", F.coalesce("linked", F.array()))), ","
        ).alias("new_links"),
    )


E03_SQL = """
WITH linked AS (
  SELECT l_orderkey, array_agg(DISTINCT l_partkey) AS linked
  FROM lineitem WHERE l_linenumber % 2 = 0 GROUP BY 1
),
allp AS (SELECT l_orderkey, array_agg(DISTINCT l_partkey) AS all_parts FROM lineitem GROUP BY 1)
SELECT a.l_orderkey,
       coalesce(array_to_string(list_sort(list_filter(all_parts, x -> NOT list_contains(coalesce(linked, []), x))), ','), '') AS new_links
FROM allp a LEFT JOIN linked l ON a.l_orderkey = l.l_orderkey
"""


# --------------------------------------------------------------------------
# ANN: IVF-flat approximate top-k (ann03)
# --------------------------------------------------------------------------

def ann03_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-flat ANN: corpus bucketed by nearest of 16 deterministic
    centroids; queries probe their 2 nearest lists and exact-rerank."""
    from pyp_etl_pipeline_spark.operators import similarity  # noqa: PLC0415

    emb = load_corpus(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.ivf_topk(emb, q, k=5, n_centroids=16, nprobe=2)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("long").alias("match_rank"), "cosine")


ANN03_SQL = """
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT vec_id AS centroid_id, v AS cv
  FROM (SELECT * FROM vecs ORDER BY vec_id LIMIT 16)
),
corpus_assign AS (
  SELECT vec_id, v, centroid_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY list_cosine_similarity(v, cv) DESC, centroid_id ASC) AS pr
  FROM vecs, cents
  QUALIFY pr <= 1
),
q_assign AS (
  SELECT vec_id AS qid, v AS qv, centroid_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY list_cosine_similarity(v, cv) DESC, centroid_id ASC) AS pr
  FROM vecs, cents WHERE vec_id % 100 = 0
  QUALIFY pr <= 2
),
scored AS (
  SELECT qid AS query_id, c.vec_id AS neighbor_id, list_cosine_similarity(qv, c.v) AS cos
  FROM q_assign q JOIN corpus_assign c USING (centroid_id)
  WHERE c.vec_id <> q.qid
)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS match_rank,
       round(cos, 6) AS cosine
FROM scored
QUALIFY match_rank <= 5
"""


# --------------------------------------------------------------------------
# Streaming sliding window (st02) — batch-equivalent oracle via epoch starts
# --------------------------------------------------------------------------

def st04_streaming_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exactly-once dedup: the event stream unioned with
    itself (every event arrives twice — the at-least-once delivery
    shape) then ``dropDuplicatesWithinWatermark`` on event_id with a
    realistic 2-hour watermark (not the degenerate 0-seconds one).
    Drained output must equal the batch DISTINCT of the source, which
    the DuckDB twin computes directly. A redelivered copy in a LATER
    micro-batch is removed either way: still inside the watermark ->
    dropped against retained state; behind it -> dropped as late. The
    cross-micro-batch case is pinned by
    tests/test_streaming.py::test_streaming_dedup_across_microbatches."""
    import uuid  # noqa: PLC0415

    from pyp_etl_pipeline_spark.streaming.events import (  # noqa: PLC0415
        read_events_stream,
        run_to_memory,
        streaming_dedup,
    )

    name = "st04_" + uuid.uuid4().hex[:8]
    stream = read_events_stream(spark, sf)
    doubled = stream.unionByName(read_events_stream(spark, sf))
    dd = streaming_dedup(doubled, ("event_id",), watermark="2 hours")
    run_to_memory(dd, name, output_mode="append")
    return spark.table(name).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("ts_sec"),
        F.round("value", 2).alias("value"),
    )


ST04_SQL = """
-- DISTINCT mirrors the operator on at-least-once inputs: a redelivered
-- copy is an IDENTICAL row (the delivery contract), so full-row
-- DISTINCT == dedup-by-event_id. Without it the twin silently assumed
-- the source itself was unique (caught by the --dupes sweep).
-- Pre-1970 rows are excluded: Structured Streaming initializes the
-- watermark to epoch 0, so a pre-1970 event time is late-on-arrival
-- and every stateful operator drops it (documented engine semantic;
-- the --tsextremes sweep makes it visible).
SELECT DISTINCT event_id, user_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
       round(value, 2) AS value
FROM events
WHERE ts >= TIMESTAMP '1970-01-01'
"""


def st02_streaming_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming sliding-window counts, drained with
    availableNow semantics and emitted as epoch window starts so the
    DuckDB twin (same arithmetic as w02) verifies the stream output."""
    from pyp_etl_pipeline_spark.streaming.events import (  # noqa: PLC0415
        read_events_stream,
        run_to_memory,
        streaming_sliding_agg,
    )

    import uuid  # noqa: PLC0415

    name = "st02_" + uuid.uuid4().hex[:8]
    stream = read_events_stream(spark, sf)
    agg = streaming_sliding_agg(stream, watermark="0 seconds")
    run_to_memory(agg, name, output_mode="complete")
    return spark.table(name).select(
        F.col("window_start").cast("long").alias("window_start"),
        "event_type",
        "n_events",
    )


ST02_SQL = """
WITH ex AS (
  SELECT event_type,
         -- true FLOOR division (`//` truncates toward zero and lands one
         -- slide late on pre-1970 rows — the --tsextremes class)
         CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 900) AS BIGINT) * 900 - 900 * u.i AS window_start
  FROM events, unnest([0, 1, 2, 3]) AS u(i)
)
SELECT window_start, event_type, count(*) AS n_events
FROM ex GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# A7 hierarchical rollup (grouping sets)
# --------------------------------------------------------------------------

def a07_status_priority_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP over (status, priority): per-combination, per-status, and
    grand-total rows in one pass (SURVEY §2.7 notes grouping sets come
    free from Spark SQL — pinned here with an oracle)."""
    o = load_table(spark, sf, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), _exact_sum("o_totalprice").alias("total_price"))
    )


A07_SQL = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       {_ses("o_totalprice")} AS total_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# --------------------------------------------------------------------------
# W4 analytic window functions (lag / lead / running aggregates)
# --------------------------------------------------------------------------

def w04_lag_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user event-over-event value delta plus a running sum — the
    analytic-window surface (lag/lead/cumulative) the reference never had
    but Spark SQL provides natively (SURVEY §2.10)."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    e = load_table(spark, sf, "events").withColumn("ts_sec", F.col("ts").cast("long"))
    w = W.partitionBy("user_id").orderBy(F.col("ts_sec").asc(), F.col("event_id").asc())
    return e.select(
        "user_id",
        "event_id",
        "ts_sec",
        F.round("value", 2).alias("value"),
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
        F.round(F.sum("value").over(w.rowsBetween(W.unboundedPreceding, 0)), 2).alias("running_sum"),
    )


W04_SQL = """
SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
       round(value, 2) AS value,
       round(value - lag(value) OVER w, 2) AS delta_prev,
       round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC)
"""


# --------------------------------------------------------------------------
# A8 exact percentiles (order statistics)
# --------------------------------------------------------------------------

def a08_percentile_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Exact linear-interpolated percentiles per order status (Spark
    ``percentile`` == DuckDB ``quantile_cont``; the approximate
    ``percentile_approx`` sketch is the 100 TB path but is not
    oracle-comparable by construction)."""
    o = load_table(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )


A08_SQL = """
SELECT o_orderstatus, count(*) AS n_orders,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY 1
"""


# --------------------------------------------------------------------------
# As-of join (aj01) — purchases matched to latest prior view per user
# --------------------------------------------------------------------------

def aj01_asof_purchase_view(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join on the events table: each purchase matched to the
    user's most recent view at or before it. Timestamps truncated to
    whole seconds (portable across the engines' nanos/micros precision)
    and the view side pre-aggregated to one row per (user, second) so
    the 'latest prior' pick is deterministic."""
    from pyp_etl_pipeline_spark.operators.asof import asof_join  # noqa: PLC0415

    e = load_table(spark, sf, "events").withColumn("ts_sec", F.col("ts").cast("long"))
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.col("ts_sec").alias("ts"), F.round("value", 2).alias("purchase_value")
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts_sec").alias("ts"))
        .agg(F.round(F.max("value"), 2).alias("view_value"))
    )
    out = asof_join(purchases, views, key="user_id", ts="ts", right_value_cols=["view_value"])
    return out.select(
        "user_id",
        "event_id",
        F.col("ts").alias("purchase_ts_sec"),
        "purchase_value",
        F.col("ts_right").alias("view_ts_sec"),
        "view_value_right",
    )


AJ01_SQL = """
WITH e AS (SELECT user_id, event_id, event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
p AS (SELECT user_id, event_id, ts_sec, round(value, 2) AS purchase_value FROM e WHERE event_type = 'purchase'),
v AS (SELECT user_id, ts_sec, round(max(value), 2) AS view_value FROM e WHERE event_type = 'view' GROUP BY 1, 2)
SELECT p.user_id, p.event_id, p.ts_sec AS purchase_ts_sec, p.purchase_value,
       v.ts_sec AS view_ts_sec, v.view_value AS view_value_right
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts_sec >= v.ts_sec
"""


# --------------------------------------------------------------------------
# Custom stateful streaming (st03) — applyInPandasWithState running totals
# --------------------------------------------------------------------------

def st03_stateful_running_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user running totals via the custom GroupState operator, drained
    over all available input; the FINAL state per user (max n_events row)
    must equal the batch aggregate — which is the DuckDB oracle."""
    import uuid  # noqa: PLC0415

    from pyp_etl_pipeline_spark.streaming import stateful  # noqa: PLC0415
    from pyp_etl_pipeline_spark.streaming.events import (  # noqa: PLC0415
        read_events_stream,
        run_to_memory,
    )

    name = "st03_" + uuid.uuid4().hex[:8]
    stream = read_events_stream(spark, sf).select("user_id", "value")
    out = stateful.running_user_totals(stream)
    run_to_memory(out, name, output_mode="update")
    t = spark.table(name)
    final = t.groupBy("user_id").agg(
        F.max(F.struct("n_events", "sum_value", "max_value")).alias("f")
    )
    return final.select(
        "user_id",
        F.col("f.n_events").alias("n_events"),
        F.col("f.sum_value").alias("sum_value"),
        F.round(F.col("f.max_value"), 6).alias("max_value"),
    )


ST03_SQL = f"""
SELECT user_id, count(*) AS n_events, {_ses("value")} AS sum_value,
       round(max(value), 6) AS max_value
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# Multimodal plumbing (mm01) — mapInPandas over binary payloads
# --------------------------------------------------------------------------

def mm01_media_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal PAYLOAD-PLUMBING stats over binary payloads synthesized
    from the documents table (payload = utf-8 bytes of text; kind cycles
    image/audio/video): byte length, md5 checksum, byte_stat0/1 (byte-sum
    mod 997 / length mod 31 — transport/integrity stats of the raw
    bytes, NOT media features; real decodes are mm02–mm14). Arrow-batched
    mapInPandas. The DuckDB twin reproduces every stat from the text via
    hex-pair byte walking (byte arithmetic, never char arithmetic);
    plumbing values are additionally golden-tested in pytest."""
    from pyp_etl_pipeline_spark.multimodal.binary_ops import extract_features  # noqa: PLC0415

    d = load_table(spark, sf, "documents")
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(kinds, (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(640).alias("width"),
            F.lit(480).alias("height"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    return extract_features(media)


MM01_SQL = """
SELECT doc_id AS media_id,
       (['image', 'audio', 'video'])[(doc_id % 3 + 1)::INT] AS kind,
       strlen(text)::BIGINT AS n_bytes,
       md5(text) AS checksum,
       -- BYTE arithmetic, not char arithmetic: the engine sums the
       -- utf-8 PAYLOAD bytes, so the twin walks hex(text) two nibbles
       -- at a time (strlen = byte length; ord(substring(...)) would
       -- count characters and drift on multibyte text — caught by the
       -- --unicode sweep)
       CASE WHEN strlen(text) = 0 THEN 0.0
            ELSE (list_sum(list_transform(generate_series(1, strlen(text)),
                   i -> ('0x' || substr(hex(text), (i * 2 - 1)::INT, 2))::BIGINT)) % 997) / 997.0
       END AS byte_stat0,
       (strlen(text) % 31) / 31.0 AS byte_stat1
FROM documents
"""


def mm02_media_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL media decode (no metadata trust, no stub): PNG and WAV
    payloads are synthesized per doc_id with the pure-python encoders
    (solid gray8 image / PCM16 ramp clip), then ``decode_features``
    parses the actual bytes back — zlib inflate + scanline unfilter for
    dimensions and mean pixel, RIFF walk for duration and RMS. The DuckDB
    twin computes every feature analytically from doc_id, so a decoder
    bug (wrong stride, wrong endianness, off-by-one scanline) breaks the
    hash match."""
    from pyp_etl_pipeline_spark.multimodal.binary_ops import decode_features  # noqa: PLC0415
    from pyp_etl_pipeline_spark.multimodal.codecs import (  # noqa: PLC0415
        png_encode_gray,
        wav_encode_pcm16,
    )

    d = load_table(spark, sf, "documents").select("doc_id")

    def encode(i):
        if i % 2 == 0:
            return png_encode_gray(1 + i % 16, 1 + i % 8, i % 256)
        k = 1 + i % 7
        n = 100 + i % 50
        return wav_encode_pcm16([(((j * k) % 256) - 128) * 64 for j in range(n)], 8000)

    media = synth_media(d, encode)
    out = decode_features(media)
    return out.select(
        "media_id",
        "format",
        "width",
        "height",
        F.round("duration_ms", 4).alias("duration_ms"),
        F.round("mean_val", 4).alias("mean_val"),
        F.round("rms", 4).alias("rms"),
    )


MM02_SQL = """
SELECT doc_id AS media_id,
  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
  CASE WHEN doc_id % 2 = 0 THEN (1 + doc_id % 16)::INT END AS width,
  CASE WHEN doc_id % 2 = 0 THEN (1 + doc_id % 8)::INT END AS height,
  CASE WHEN doc_id % 2 = 1 THEN round((100 + doc_id % 50) * 1000.0 / 8000.0, 4) END AS duration_ms,
  CASE WHEN doc_id % 2 = 0 THEN round((doc_id % 256)::DOUBLE, 4) END AS mean_val,
  CASE WHEN doc_id % 2 = 1 THEN round(sqrt(list_avg(list_transform(
         range(0, (100 + doc_id % 50)::BIGINT),
         j -> power((((j * (1 + doc_id % 7)) % 256 - 128) * 64)::DOUBLE, 2)))), 4) END AS rms
FROM documents
"""


def mm03_jpeg_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL JPEG decode: per doc_id a solid-gray BASELINE JPEG is
    synthesized by the pure-python encoder (flat blocks -> DC-only
    entropy stream, spec-conformant JFIF), then ``decode_features``
    parses the actual bytes back — marker walk for dimensions, standard
    DC Huffman + dequant for the pixel mean, which is LOSSLESS for solid
    fills (DC quant step 8). The DuckDB twin computes every feature
    analytically from doc_id, so a marker-walk or entropy-decoder bug
    (wrong dims, wrong category extend, bad byte unstuffing) breaks the
    hash match."""
    from pyp_etl_pipeline_spark.multimodal.binary_ops import decode_features  # noqa: PLC0415
    from pyp_etl_pipeline_spark.multimodal.codecs import jpeg_encode_gray  # noqa: PLC0415

    d = load_table(spark, sf, "documents").select("doc_id")
    media = synth_media(d, lambda i: jpeg_encode_gray(1 + i % 24, 1 + i % 12, i % 256))
    out = decode_features(media)
    return out.select(
        "media_id",
        "format",
        "width",
        "height",
        F.round("mean_val", 4).alias("mean_val"),
    )


MM03_SQL = """
SELECT doc_id AS media_id,
  'jpeg' AS format,
  (1 + doc_id % 24)::INT AS width,
  (1 + doc_id % 12)::INT AS height,
  round((doc_id % 256)::DOUBLE, 4) AS mean_val
FROM documents
"""


def mm04_frame_sample_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sampling plan from REAL container bytes: every 3rd
    document plays a video; a valid ISO-BMFF MP4 (ftyp/moov/mvhd/tkhd,
    ``codecs.mp4_encode``) is synthesized with duration n_chars*10 ms,
    then ``frame_sample_decoded`` box-walks the payload (mvhd timescale/
    duration — no metadata trust) and explodes one row per planned frame
    timestamp at a 1s cadence. The DuckDB twin reproduces the frame grid
    arithmetically, so an encoder/box-walk disagreement (wrong timescale
    math, fixed-point dims misread, truncated box) breaks the match."""
    from pyp_etl_pipeline_spark.multimodal.binary_ops import frame_sample_decoded  # noqa: PLC0415
    from pyp_etl_pipeline_spark.multimodal.codecs import mp4_encode  # noqa: PLC0415

    # a doc with unknown length has no synthesizable duration (and NULL
    # n_chars would reach int() inside the Arrow batch) — both sides
    # restrict the plan to docs with a known length
    d = (
        load_table(spark, sf, "documents")
        .select("doc_id", "n_chars")
        .filter(F.col("n_chars").isNotNull())
    )
    media = synth_media(
        d, lambda i, n_chars: mp4_encode(640, 480, n_chars * 10) if i % 3 == 2 else None
    ).withColumn(
        "kind",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod("media_id", F.lit(3)) + 1).cast("int"),
        ),
    )
    return frame_sample_decoded(media, every_ms=1000)


MM04_SQL = """
SELECT doc_id AS media_id,
       (1000 * unnest(generate_series(0, greatest((n_chars * 10) // 1000, 1) - 1)))::BIGINT AS frame_ts_ms
FROM documents
WHERE doc_id % 3 = 2 AND n_chars IS NOT NULL
"""


def mm05_mp4_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """REAL MP4-container metadata decode: per doc_id a valid ISO-BMFF
    file is synthesized (``codecs.mp4_encode`` — ftyp/moov/mvhd/trak/
    tkhd/mdia boxes with analytic dims and duration), then
    ``decode_features`` box-walks the actual bytes back: mvhd timescale/
    duration -> duration_ms, tkhd 16.16 fixed-point -> width/height. The
    DuckDB twin computes every value analytically from doc_id, so any
    box-walk bug (offset drift, wrong version layout, fixed-point
    misread) breaks the hash match."""
    from pyp_etl_pipeline_spark.multimodal.binary_ops import decode_features  # noqa: PLC0415
    from pyp_etl_pipeline_spark.multimodal.codecs import mp4_encode  # noqa: PLC0415

    d = load_table(spark, sf, "documents").select("doc_id")
    media = synth_media(d, lambda i: mp4_encode(16 + i % 1904, 16 + i % 1064, 1 + i % 600000))
    return decode_features(media).select(
        "media_id",
        "format",
        "width",
        "height",
        F.round("duration_ms", 4).alias("duration_ms"),
    )


MM05_SQL = """
SELECT doc_id AS media_id,
  'mp4' AS format,
  (16 + doc_id % 1904)::INT AS width,
  (16 + doc_id % 1064)::INT AS height,
  round((1 + doc_id % 600000)::DOUBLE, 4) AS duration_ms
FROM documents
"""


_MX02_SOURCES = ("wiki", "web", "code")  # doc_id % 3 strata, as MIX_RATES


def mx02_token_budget_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget corpus fill (``sampling.budget_fill``): each of the
    three mixture sources contributes a deterministic pseudo-random
    subset of documents totalling >= 4000 whitespace tokens (greedy fill
    in keyed-hash order, first overflowing doc included). The running
    token count is the shared deterministic distributed prefix sum
    (``operators/prefix`` — hash buckets have a static [0, 2^20) domain,
    so no bounds pass). The twin replays hash order, tie rule, window
    cumsum, and the overflow contract, so the whole budget-fill chain is
    hash-certified."""
    from pyp_etl_pipeline_spark.operators import sampling, textan  # noqa: PLC0415

    d = load_corpus_unique(spark, sf, "documents")
    src = d.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(n) for n in _MX02_SOURCES]), (F.col("doc_id") % 3).cast("int") + 1
        ).alias("source"),
        textan.token_count("text").cast("long").alias("n_tokens"),
    )
    out = sampling.budget_fill(
        src, key_col="doc_id", weight_col="n_tokens", budget=4000, group_cols=("source",)
    )
    return out.select("source", "doc_id", "n_tokens", "fill_rank_bucket", "cum_weight")


def _mx02_sql() -> str:
    from pyp_etl_pipeline_spark.operators.sampling import sql_hash_bucket  # noqa: PLC0415

    toks = "list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')"
    names = ", ".join(f"'{n}'" for n in _MX02_SOURCES)
    return f"""
WITH t AS (
  SELECT doc_id,
         [{names}][(doc_id % 3)::INT + 1] AS source,
         CAST(len({toks}) AS BIGINT) AS n_tokens,
         {sql_hash_bucket("doc_id", "budget-v1")} AS fill_rank_bucket
  FROM (SELECT DISTINCT * FROM documents)
),
c AS (
  SELECT *, sum(n_tokens) OVER (
           PARTITION BY source ORDER BY fill_rank_bucket, doc_id
           ROWS UNBOUNDED PRECEDING) AS cum_weight
  FROM t
)
SELECT source, doc_id, n_tokens, fill_rank_bucket,
       CAST(cum_weight AS BIGINT) AS cum_weight
FROM c WHERE cum_weight - n_tokens < 4000
"""


MX02_SQL = _mx02_sql()


def mm07_mjpeg_frames(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video frame decode, end to end: per doc_id an MJPEG-in-AVI
    file is synthesized (``codecs.avi_mjpeg_encode`` — RIFF hdrl/strl/
    movi with 1 + doc_id % 6 real baseline-JPEG frames at 4 fps, frame
    j's solid fill = (doc_id*31 + j*17) % 256), then
    ``sample_frames_decoded`` walks the container bytes back (vids
    stream header -> fps, movi chunks -> frame slices) and PIXEL-decodes
    the frame at each 500 ms grid point via the pure-python JPEG
    entropy decoder. The DuckDB twin reproduces the grid arithmetic and
    fill values analytically from doc_id, so a container-walk, fps-math,
    frame-indexing, or JPEG-decode bug breaks the hash. This closes the
    round-6 'video decode is a stub' gap for intra-frame video; only
    inter-frame codecs (H.264 etc.) still require libav."""
    from pyp_etl_pipeline_spark.multimodal.binary_ops import sample_frames_decoded  # noqa: PLC0415
    from pyp_etl_pipeline_spark.multimodal.codecs import avi_mjpeg_encode  # noqa: PLC0415

    d = load_table(spark, sf, "documents").select("doc_id")

    def encode(i):
        frames = [(i * 31 + j * 17) % 256 for j in range(1 + i % 6)]
        return avi_mjpeg_encode(1 + i % 16, 1 + i % 8, frames, fps=4)

    media = synth_media(d, encode).withColumn("kind", F.lit("video"))
    out = sample_frames_decoded(media, every_ms=500)
    return out.select(
        "media_id",
        "frame_idx",
        "frame_ts_ms",
        "width",
        "height",
        F.round("mean_val", 4).alias("mean_val"),
    )


MM07_SQL = """
WITH p AS (
  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 8 AS h,
         (1 + doc_id % 6)::BIGINT AS nf
  FROM documents
),
g AS (SELECT *, greatest((nf * 250) // 500, 1) AS ns FROM p),
s AS (SELECT doc_id, w, h, nf, unnest(range(0, ns)) AS k FROM g)
SELECT doc_id AS media_id,
       least(nf - 1, (k * 500 * 4) // 1000)::INT AS frame_idx,
       (k * 500)::BIGINT AS frame_ts_ms,
       w::INT AS width, h::INT AS height,
       round(((doc_id * 31 + least(nf - 1, (k * 500 * 4) // 1000) * 17) % 256)::DOUBLE, 4) AS mean_val
FROM s
"""


def sp01_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split of the documents corpus keyed
    on doc_id (map-only md5-bucket routing, stable across runs and
    engines — the oracle reproduces every assignment bit-for-bit)."""
    from pyp_etl_pipeline_spark.operators import sampling  # noqa: PLC0415

    d = load_table(spark, sf, "documents")
    out = sampling.hash_split(d, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return out.select("doc_id", "split")


def _sp01_sql() -> str:
    from pyp_etl_pipeline_spark.operators.sampling import BUCKETS, sql_hash_bucket  # noqa: PLC0415

    b = sql_hash_bucket("doc_id", "split-v1")
    return f"""
SELECT doc_id,
       CASE WHEN {b} < {int(0.9 * BUCKETS)} THEN 'train'
            WHEN {b} < {int(0.95 * BUCKETS)} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


SP01_SQL = _sp01_sql()


MIX_RATES = [("wiki", 0, 2.3), ("web", 1, 0.25), ("code", 2, 1.0)]


def mx01_corpus_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-mixture assembly: three pseudo-sources
    (doc_id % 3 strata of the documents corpus) mixed at rates 2.3 /
    0.25 / 1.0 — the 'repeat the high-quality corpus, down-sample the
    crawl' move. Map-only column algebra (``sampling.mix_corpora``):
    floor(rate) guaranteed copies per doc + a keyed-hash extra for the
    fractional part; the oracle reproduces every copy decision
    bit-for-bit."""
    from pyp_etl_pipeline_spark.operators import sampling  # noqa: PLC0415

    d = load_table(spark, sf, "documents")
    sources = [
        (name, d.filter(F.col("doc_id") % 3 == m).select("doc_id"), rate)
        for name, m, rate in MIX_RATES
    ]
    out = sampling.mix_corpora(sources, "doc_id")
    return out.select("doc_id", "source", F.col("copy").cast("long").alias("copy"))


def _mx01_sql() -> str:
    from pyp_etl_pipeline_spark.operators.sampling import BUCKETS, sql_hash_bucket  # noqa: PLC0415

    branches = []
    for name, m, rate in MIX_RATES:
        whole = int(rate)
        thresh = int((rate - whole) * BUCKETS)  # computed HERE so float
        # rounding (e.g. 2.3 - 2 = 0.299...98) matches Spark exactly
        b = sql_hash_bucket("doc_id", f"mix-v1:{name}")
        branches.append(
            f"SELECT doc_id, '{name}' AS source, "
            f"{whole} + CASE WHEN {b} < {thresh} THEN 1 ELSE 0 END AS n "
            f"FROM documents WHERE doc_id % 3 = {m}"
        )
    union = " UNION ALL ".join(branches)
    return f"""
SELECT doc_id, source, unnest(generate_series(0, n - 1))::BIGINT AS copy
FROM ({union}) WHERE n > 0
"""


MX01_SQL = _mx01_sql()


def px01_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Training-corpus PII redaction: deterministic PII payloads (email /
    phone / ipv4+ssn, keyed on doc_id) are injected into document text,
    then ``masking.scrub_pii`` replaces every hit with a typed
    placeholder and ``pii_counts`` tallies per-class hits — all pure
    JVM-side regex column algebra, map-only. The DuckDB twin applies the
    identical engine-portable patterns in the identical order, so any
    dialect drift (greediness, anchor semantics, replace-all behavior)
    breaks the hash match."""
    from pyp_etl_pipeline_spark.functions import masking  # noqa: PLC0415

    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(k % 4 == 0, F.concat(F.lit(" contact user"), k, F.lit("@example.com now")))
        .when(k % 4 == 1, F.concat(F.lit(" call (555) 123-"), F.lpad((k % 10000).cast("string"), 4, "0")))
        .when(k % 4 == 2, F.concat(F.lit(" from 10.0."), (k % 256).cast("string"), F.lit(".7 ssn 123-45-"), F.lpad((k % 10000).cast("string"), 4, "0")))
        .otherwise(F.lit(" clean suffix")),
    )
    pii = masking.pii_counts(injected)
    return d.select(
        "doc_id",
        masking.scrub_pii(injected).alias("scrubbed"),
        *[pii[n].cast("long").alias(f"n_{n}") for n in ("email", "phone", "ipv4", "ssn")],
    )


def _px01_sql() -> str:
    from pyp_etl_pipeline_spark.functions.masking import PII_PATTERNS  # noqa: PLC0415

    inj = (
        "text || CASE WHEN doc_id % 4 = 0 THEN ' contact user' || doc_id || '@example.com now' "
        "WHEN doc_id % 4 = 1 THEN ' call (555) 123-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') "
        "WHEN doc_id % 4 = 2 THEN ' from 10.0.' || (doc_id % 256) || '.7 ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') "
        "ELSE ' clean suffix' END"
    )
    scrub = "inj"
    for name in ("email", "phone", "ssn", "ipv4"):
        pat = PII_PATTERNS[name].replace("'", "''")
        scrub = f"regexp_replace({scrub}, '{pat}', '<{name.upper()}>', 'g')"
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(inj, '{PII_PATTERNS[n]}')) AS BIGINT) AS n_{n}"
        for n in ("email", "phone", "ipv4", "ssn")
    )
    return f"""
WITH i AS (SELECT doc_id, {inj} AS inj FROM documents)
SELECT doc_id, {scrub} AS scrubbed, {counts}
FROM i
"""


PX01_SQL = _px01_sql()


def pk01_sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style sequence-packing plan: documents concatenated in doc_id
    order and chunked into 512-token bins, one row per (bin, doc
    segment). The Spark side runs the two-pass DISTRIBUTED prefix sum
    (range repartition + per-partition window + broadcast partition
    offsets — no single-partition global window); the DuckDB twin runs
    the sequential single-node cumsum, so the gate proves the
    distributed scan reproduces sequential packing bit-for-bit."""
    from pyp_etl_pipeline_spark.operators import packing  # noqa: PLC0415

    d = load_table(spark, sf, "documents").distinct()
    return packing.pack_sequences(d, max_len=512)


_PK_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')"

PK01_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_PK_TOKS}) AS BIGINT) AS n FROM (SELECT DISTINCT * FROM documents) WHERE doc_id IS NOT NULL
),
c AS (
  SELECT doc_id, n,
         CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS gend
  FROM t WHERE n > 0
),
s AS (SELECT doc_id, n, gend - n AS gstart, gend FROM c),
b AS (
  SELECT doc_id, gstart, gend,
         unnest(generate_series((gstart // 512)::BIGINT, ((gend - 1) // 512)::BIGINT)) AS bin_id
  FROM s
)
SELECT bin_id, doc_id,
       greatest(bin_id * 512, gstart) - gstart AS doc_offset,
       least((bin_id + 1) * 512, gend) - greatest(bin_id * 512, gstart) AS seg_len,
       greatest(bin_id * 512, gstart) - bin_id * 512 AS bin_offset
FROM b
"""


def sp02_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Exactly-25-per-event-type stratified sample of events, chosen by
    hash order (deterministic, unbiased within the stratum); plus the
    keyed 10%% deterministic sample as a flag column."""
    from pyp_etl_pipeline_spark.operators import sampling  # noqa: PLC0415

    e = load_table(spark, sf, "events")
    sampled = sampling.stratified_fixed_n(e, "event_type", "event_id", n=25)
    return sampled.select(
        "event_type",
        "event_id",
        (sampling.hash_bucket("event_id", "sample-v1") < int(0.1 * sampling.BUCKETS)).alias(
            "in_10pct_sample"
        ),
    )


def _sp02_sql() -> str:
    from pyp_etl_pipeline_spark.operators.sampling import BUCKETS, sql_hash_bucket  # noqa: PLC0415

    return f"""
SELECT event_type, event_id,
       {sql_hash_bucket("event_id", "sample-v1")} < {int(0.1 * BUCKETS)} AS in_10pct_sample
FROM (
  SELECT event_type, event_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(event_id::VARCHAR || 'strata-v1') ASC, event_id ASC
         ) AS rn
  FROM events
)
WHERE rn <= 25
"""


SP02_SQL = _sp02_sql()


def t09_masking(spark: SparkSession, sf: str) -> DataFrame:
    """T9 sensitive-value masking as a checked query: a column whose NAME
    marks it sensitive (api_token) is fully masked; base64-ish runs > 20
    chars embedded in ordinary strings are masked in place; short strings
    and non-string columns pass through (reference
    app/logging_utils.py:38-56)."""
    from pyp_etl_pipeline_spark.functions import masking  # noqa: PLC0415

    c = load_table(spark, sf, "customer")
    df = c.select(
        "c_custkey",
        F.concat(F.lit("tok_"), F.md5("c_name")).alias("api_token"),
        F.concat(F.lit("note "), F.md5("c_name"), F.lit(" end")).alias("comment"),
        F.col("c_mktsegment").alias("segment"),
    )
    return masking.mask_columns(df)


T09_SQL = """
SELECT c_custkey,
       '***MASKED***' AS api_token,
       regexp_replace('note ' || md5(c_name) || ' end', '[A-Za-z0-9+/=]{21,}', '***MASKED***', 'g') AS comment,
       c_mktsegment AS segment
FROM customer
"""


# --------------------------------------------------------------------------
# P1/P2: fuzzy header -> schema mapping as an oracle-checked query
# --------------------------------------------------------------------------

# Contention-free by construction: each header's best field is distinct,
# so the engine's greedy field-assigned-once walk equals the per-header
# argmax the SQL twin computes (contention cases are pinned separately in
# tests/test_plans_explode.py).
_P01_HEADERS = [
    "Member ID",
    "businessname",
    "E-Mail",
    "Telephone",
    "Postal Code",
    "Surname",
    "Munizipality",
    "created at",
    "Weird Column Xyz",
    "zzzz",
]
_P01_OVERRIDES = {"Weird Column Xyz": "dataSource"}


def p01_header_mapping(spark: SparkSession, sf: str) -> DataFrame:
    """P1 fuzzy header mapping + P2 user override, surfaced as rows so
    the driver's oracle can check the plan-time decision table itself
    (exact alias -> 100, best sum-normalized ratio >= 60, first-in-dict
    tiebreak, override forces the field at confidence 100)."""
    from pyp_etl_pipeline_spark.plans.header_map import map_headers_to_schema  # noqa: PLC0415

    hm = map_headers_to_schema(_P01_HEADERS, overrides=_P01_OVERRIDES)
    rows = []
    for h in _P01_HEADERS:
        if h in hm.mapping:
            field, conf = hm.mapping[h]
            rows.append((h, field, round(conf, 4), True))
        else:
            rows.append((h, None, None, False))
    return spark.createDataFrame(
        rows, "header string, field string, confidence double, mapped boolean"
    )


def _p01_sql() -> str:
    from pyp_etl_pipeline_spark.schema import MEMBER_SCHEMA_FIELDS  # noqa: PLC0415

    def sql_ratio_max(a: str, b: str) -> str:
        # header_map.ratio: MAX-normalized (not the data plane's
        # sum-normalized sql_ratio — see plans/header_map.py docstring)
        return (
            f"(CASE WHEN length({a}) = 0 AND length({b}) = 0 THEN 100.0 "
            f"ELSE 100.0 * (1.0 - levenshtein({a}, {b}) / greatest(length({a}), length({b}))) END)"
        )

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    hdr_rows = ", ".join(
        f"({i + 1}, {q(h)}, {q(_P01_OVERRIDES[h]) if h in _P01_OVERRIDES else 'NULL'})"
        for i, h in enumerate(_P01_HEADERS)
    )
    fa_rows = []
    for field_ord, (field, aliases) in enumerate(MEMBER_SCHEMA_FIELDS.items()):
        for alias in sorted({field.lower(), *aliases}):
            fa_rows.append(f"({field_ord}, {q(field)}, {q(alias)})")
    ratio = sql_ratio_max("nh", "alias")
    return f"""
WITH headers(ord, h, override_field) AS (VALUES {hdr_rows}),
fa(field_ord, field, alias) AS (VALUES {", ".join(fa_rows)}),
norm AS (SELECT ord, h, trim(lower(h)) AS nh, override_field FROM headers),
scored AS (
  SELECT n.ord, f.field, f.field_ord, max({ratio}) AS score
  FROM norm n CROSS JOIN fa f
  WHERE n.override_field IS NULL
  GROUP BY 1, 2, 3
),
best AS (
  SELECT ord, field, score,
         row_number() OVER (PARTITION BY ord ORDER BY score DESC, field_ord ASC) AS rn
  FROM scored
),
decided AS (
  SELECT ord, field, round(score, 4) AS confidence FROM best WHERE rn = 1 AND score >= 60.0
  UNION ALL
  SELECT ord, override_field AS field, 100.0 AS confidence FROM norm WHERE override_field IS NOT NULL
)
SELECT n.h AS header, d.field, CAST(d.confidence AS DOUBLE) AS confidence,
       d.field IS NOT NULL AS mapped
FROM norm n LEFT JOIN decided d USING (ord)
"""


P01_SQL = _p01_sql()



# --------------------------------------------------------------------------
# gf01: calendar-spine gap fill (densification + LOCF)
# --------------------------------------------------------------------------

from pyp_etl_pipeline_spark.functions.aggregates import (  # noqa: E402
    _sql_micro as _sqm,
    sql_finalize_sum as _sfs,
)
from pyp_etl_pipeline_spark.operators import windows as _windows  # noqa: E402


def gf01_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly gap fill over events: complete per-type spine, zero-filled
    counts, LOCF of the exact hourly sum (operators/windows.gap_fill)."""
    return _windows.gap_fill(load_table(spark, sf, "events"))


GF01_SQL = f"""
WITH pre AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, {_sqm("value")} AS m
  FROM events
),
agg AS (
  SELECT event_type, bucket, count(*) AS n, sum(m) AS s
  FROM pre GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM agg GROUP BY 1),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, interval 1 hour)) AS bucket
  FROM bounds
),
j AS (
  SELECT sp.event_type, sp.bucket, a.n, a.s,
         last_value(a.s IGNORE NULLS) OVER (
           PARTITION BY sp.event_type ORDER BY sp.bucket
           ROWS UNBOUNDED PRECEDING) AS ls
  FROM spine sp LEFT JOIN agg a
    ON sp.event_type = a.event_type AND sp.bucket = a.bucket
)
SELECT event_type, bucket,
       CAST(coalesce(n, 0) AS BIGINT) AS n_events,
       {_sfs("s")} AS sum_value,
       n IS NULL AS filled,
       {_sfs("ls")} AS locf_sum
FROM j
"""


# --------------------------------------------------------------------------
# ii01: skew-aware inverted index over documents
# --------------------------------------------------------------------------

from pyp_etl_pipeline_spark.driver_queries import sql_normalized_text as _snt  # noqa: E402
from pyp_etl_pipeline_spark.operators import textan as _textan  # noqa: E402


def ii01_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """Posting lists per token with df bounds pruned BEFORE list
    construction (operators/textan.inverted_index) — the search-index /
    collocation-mining primitive, shaped so stopword keys never reach
    the list-building shuffle."""
    # the synthetic corpus has a tiny, highly shared vocabulary — a 0.9
    # ratio keeps real posting lists while still exercising the prune
    return _textan.inverted_index(load_corpus(spark, sf, "documents"), max_df_ratio=0.9)


II01_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split({_snt("text")}, ' ')) AS token
  FROM documents
),
tf AS (
  SELECT token, doc_id, count(*) AS tf FROM t WHERE token <> '' GROUP BY 1, 2
),
dfreq AS (SELECT token, count(*) AS df, sum(tf) AS total_tf FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
keep AS (
  SELECT token, df, total_tf FROM dfreq, n
  WHERE df >= 2 AND df <= 0.9 * n_docs
)
SELECT k.token, CAST(k.df AS BIGINT) AS df, CAST(k.total_tf AS BIGINT) AS total_tf,
       string_agg(tf.doc_id || ':' || tf.tf, ' ' ORDER BY tf.doc_id) AS postings
FROM keep k JOIN tf ON k.token = tf.token
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# qt01: mergeable histogram quantile sketch over events.value
# --------------------------------------------------------------------------

from pyp_etl_pipeline_spark.operators import sketch as _sketch  # noqa: E402


def qt01_histogram_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """p50/p95/p99 per event_type from a 32-bin mergeable integer
    histogram (operators/sketch.histogram_quantiles) — the
    sort-free percentile shape for 100 TB rollups."""
    return _sketch.histogram_quantiles(load_table(spark, sf, "events"))


QT01_SQL = f"""
WITH v AS (
  SELECT event_type AS g, {_sqm("value")} AS m FROM events WHERE value IS NOT NULL
),
b AS (SELECT g, min(m) AS lo, max(m) AS hi, count(*) AS n FROM v GROUP BY 1),
binned AS (
  SELECT v.g, b.lo, b.hi, b.n,
         CAST(((m - lo) * 32) // (hi - lo + 1) AS INT) AS bin
  FROM v JOIN b USING (g)
),
cnt AS (SELECT g, lo, hi, n, bin, count(*) AS c FROM binned GROUP BY 1, 2, 3, 4, 5),
cum AS (
  SELECT *, sum(c) OVER (PARTITION BY g ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
  FROM cnt
),
qs AS (SELECT * FROM (VALUES (50, 'p50'), (95, 'p95'), (99, 'p99')) t(p, q)),
hit AS (
  SELECT g, lo, hi, n, q, min(bin) AS qbin
  FROM cum, qs WHERE cum >= (n * p + 99) // 100
  GROUP BY 1, 2, 3, 4, 5
)
SELECT g AS event_type, CAST(n AS BIGINT) AS n, q,
       CAST(lo + ((2 * qbin + 1) * (hi - lo + 1)) // 64 AS BIGINT) AS est_micro
FROM hit
"""


# --------------------------------------------------------------------------
# ev01: blocking-scheme evaluation — SimHash candidates vs exact Jaccard truth
# --------------------------------------------------------------------------

def ev01_linkage_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Precision/recall/F1 of the SimHash near-dup blocker (hamming <= 6)
    against exact shingle-Jaccard >= 0.5 truth pairs
    (operators/quality.linkage_eval) — the recall audit every LSH/blocking
    scheme needs before it gates a 100 TB dedup."""
    from pyp_etl_pipeline_spark.operators import dedup as _dedup  # noqa: PLC0415
    from pyp_etl_pipeline_spark.operators import quality as _quality  # noqa: PLC0415

    d = load_corpus(spark, sf, "documents")
    pred = _dedup.simhash_pairs(d, max_hamming=6)
    truth = _dedup.shingle_pairs_jaccard(d, threshold=0.5)
    return _quality.linkage_eval(pred, truth)


def _ev01_sql(sh01_body: str, dd02_body: str) -> str:
    return f"""
WITH pred AS (SELECT DISTINCT id_a, id_b FROM ({sh01_body})),
truth AS (SELECT DISTINCT id_a, id_b FROM ({dd02_body})),
j AS (
  SELECT coalesce(p.id_a, t.id_a) AS id_a,
         CASE WHEN p.id_a IS NOT NULL THEN 1 END AS in_pred,
         CASE WHEN t.id_a IS NOT NULL THEN 1 END AS in_truth
  FROM pred p FULL JOIN truth t ON p.id_a = t.id_a AND p.id_b = t.id_b
),
agg AS (
  SELECT CAST(coalesce(sum(in_pred), 0) AS BIGINT) AS n_pred,
         CAST(coalesce(sum(in_truth), 0) AS BIGINT) AS n_truth,
         CAST(sum(CASE WHEN in_pred IS NOT NULL AND in_truth IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM j
),
m AS (
  SELECT *,
         CAST(n_pred - tp AS BIGINT) AS fp, CAST(n_truth - tp AS BIGINT) AS fn,
         CASE WHEN n_pred > 0 THEN CAST((tp * 1000000) // n_pred AS BIGINT) END AS precision_micro,
         CASE WHEN n_truth > 0 THEN CAST((tp * 1000000) // n_truth AS BIGINT) END AS recall_micro
  FROM agg
)
SELECT n_pred, n_truth, tp, fp, fn, precision_micro, recall_micro,
       CASE WHEN precision_micro IS NOT NULL AND recall_micro IS NOT NULL
                 AND precision_micro + recall_micro > 0
            THEN CAST((2 * precision_micro * recall_micro) // (precision_micro + recall_micro) AS BIGINT)
       END AS f1_micro
FROM m
"""


# --------------------------------------------------------------------------
# tk02: WordPiece-style tokenizer APPLY — greedy maximal munch vs vocab
# --------------------------------------------------------------------------

def tk02_wordpiece_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy leftmost-longest segmentation of the corpus vocabulary
    against a corpus-derived WordPiece vocab (single chars + top-10-word
    prefixes) — operators/bpe.wordpiece_segment. Completes the tokenizer
    lifecycle: train (tk01) -> apply (tk02) -> pack (pk01)."""
    from pyp_etl_pipeline_spark.operators import bpe as _bpe  # noqa: PLC0415

    w = _bpe.word_counts(load_corpus(spark, sf, "documents"))
    return _bpe.wordpiece_segment(w, _bpe.wordpiece_vocab(w))


TK02_SQL = f"""
WITH RECURSIVE
w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(string_split({_snt("text")}, ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY 1
),
chars AS (
  SELECT DISTINCT substring(word, CAST(i AS INT), 1) AS tok
  FROM (SELECT word, unnest(generate_series(1, length(word))) AS i FROM w)
),
top AS (SELECT word FROM w ORDER BY cnt DESC, word ASC LIMIT 10),
prefixes AS (
  SELECT DISTINCT substring(word, 1, CAST(i AS INT)) AS tok
  FROM (SELECT word, unnest(generate_series(2, least(6, length(word)))) AS i FROM top)
),
vocab AS (SELECT tok FROM chars UNION SELECT tok FROM prefixes),
starts AS (
  SELECT word, unnest(generate_series(1, length(word))) AS start FROM w
),
cand AS (
  SELECT s.word, s.start, unnest(generate_series(1, least(6, length(s.word) - s.start + 1))) AS len
  FROM starts s
),
hits AS (
  SELECT c.word, c.start, c.len
  FROM cand c JOIN vocab v
    ON v.tok = substring(c.word, CAST(c.start AS INT), CAST(c.len AS INT))
),
best AS (SELECT word, start, max(len) AS len FROM hits GROUP BY 1, 2),
walk AS (
  SELECT word, CAST(1 AS BIGINT) AS pos, '' AS pieces, CAST(0 AS BIGINT) AS n
  FROM w
  UNION ALL
  SELECT walk.word, walk.pos + b.len,
         walk.pieces || ' ' || substring(walk.word, CAST(walk.pos AS INT), CAST(b.len AS INT)),
         walk.n + 1
  FROM walk JOIN best b ON b.word = walk.word AND b.start = walk.pos
  WHERE walk.pos <= length(walk.word)
)
SELECT w.word, w.cnt, walk.n AS n_pieces, trim(walk.pieces) AS pieces
FROM walk JOIN w USING (word)
WHERE walk.pos = length(w.word) + 1
"""


# --------------------------------------------------------------------------
# ia01: incremental aggregate-state merge == single-pass aggregate
# --------------------------------------------------------------------------

from pyp_etl_pipeline_spark.functions.aggregates import sql_finalize_avg as _sfa  # noqa: E402
from pyp_etl_pipeline_spark.operators import incremental as _incr  # noqa: E402
from pyp_etl_pipeline_spark.operators.sketch import sql_hll_distinct as _shll  # noqa: E402


def ia01_incremental_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """History-state + delta-state MERGED (operators/incremental) must
    equal the single-pass aggregate over all events — the oracle
    computes the latter, so a hash match certifies the algebraic-merge
    property that lets a 100 TB rollup ingest a day without recomputing
    history. Batch split: event_id % 3 == 0 plays the new ingest."""
    e = load_table(spark, sf, "events")
    hist = e.filter(F.col("event_id") % 3 != 0)
    delta = e.filter(F.col("event_id") % 3 == 0)
    merged = _incr.merge_states(_incr.agg_state(hist), _incr.agg_state(delta))
    return _incr.finalize_state(merged)


IA01_SQL = f"""
WITH v AS (SELECT event_type, user_id, {_sqm("value")} AS m FROM events),
s AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(m) AS BIGINT) AS n_vals,
         sum(m) AS sum_micro, min(m) AS min_m, max(m) AS max_m
  FROM v GROUP BY 1
),
h AS ({_shll("events", "user_id", ("event_type",))})
SELECT s.event_type, s.n_rows, s.n_vals,
       {_sfs("s.sum_micro")} AS sum_value,
       {_sfa("s.sum_micro", "s.n_vals")} AS avg_value,
       CAST(s.min_m / 1000000.0 AS DOUBLE) AS min_value,
       CAST(s.max_m / 1000000.0 AS DOUBLE) AS max_value,
       h.est_distinct
FROM s LEFT JOIN h ON s.event_type = h.event_type
"""


# --------------------------------------------------------------------------
# bm01: Okapi BM25 ranking against a deterministic mid-frequency query
# --------------------------------------------------------------------------

def bm01_bm25_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 corpus docs by BM25 for the 3 mid-df query terms
    (operators/textan.bm25_rank) — the query-time half of the search
    index whose storage half is ii01."""
    return _textan.bm25_rank(load_corpus(spark, sf, "documents"))


BM01_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split({_snt("text")}, ' ')) AS token FROM documents
),
t2 AS (SELECT doc_id, token FROM t WHERE token <> ''),
tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM t2 GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM t2 GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
q AS (
  SELECT token, df, n_docs, avgdl FROM dfreq, stats
  ORDER BY abs(df * 2 - n_docs) ASC, token ASC LIMIT 3
),
sc AS (
  SELECT tf.doc_id, dl.dl,
         CAST(count(*) AS BIGINT) AS n_terms_matched,
         CAST(sum(CAST(floor(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * 2.2)
           / (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
           * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS score_micro
  FROM tf JOIN q USING (token) JOIN dl USING (doc_id)
  GROUP BY 1, 2
)
SELECT doc_id, dl, n_terms_matched, score_micro, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank FROM sc)
WHERE rank <= 10
"""


# --------------------------------------------------------------------------
# pt01: date-partitioned layout + plan-time partition pruning
# --------------------------------------------------------------------------

def pt01_partition_pruned_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Events re-persisted Hive-partitioned by event_date
    (sources/bucketed.write_date_partitioned), then ONE day read back
    through plan-time partition pruning and rolled up hourly. The
    pruning property (PartitionFilters carries the predicate; other
    days' directories never open) is pinned in tests/test_bucketed.py;
    this query certifies the layout round-trip produces correct DATA.
    The one collect is a single scalar (the target date), independent
    of corpus size."""
    import os  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from pyp_etl_pipeline_spark.sources.bucketed import (  # noqa: PLC0415
        read_partition_pruned,
        write_date_partitioned,
    )

    e = load_table(spark, sf, "events")
    target = e.agg(F.max(F.to_date("ts"))).collect()[0][0]

    path = scratch_path("pt01_scratch")
    write_date_partitioned(e, path)
    day = read_partition_pruned(spark, path, "event_date", target)
    return (
        day.select(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
            F.col("value"),
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            _exact_sum("value").alias("sum_value"),
        )
    )


PT01_SQL = f"""
WITH d AS (SELECT max(CAST(ts AS DATE)) AS target FROM events)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, {_ses("value")} AS sum_value
FROM events, d
WHERE CAST(ts AS DATE) = d.target
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# st09: stream-stream LEFT OUTER join with watermark-driven null emission
# --------------------------------------------------------------------------

def st09_stream_stream_left_join(spark: SparkSession, sf: str) -> DataFrame:
    """Left-outer stream-stream range join: every error joined to the
    same-user clicks in its 6-hour window; errors with NO click emit a
    NULL-click row — but only when the watermark passes their horizon
    (state eviction). A drained replay would silently hold the tail in
    state forever, so the scratch stream appends a watermark-advancing
    SENTINEL file 30 days past the real data (its rows are filtered out
    of the result); the null rows then flush on the no-data micro-batch.
    The oracle is the plain batch LEFT JOIN — the streaming run must
    reproduce it exactly."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415
    import time  # noqa: PLC0415
    import uuid  # noqa: PLC0415

    from pyspark.sql.types import LongType as _Long  # noqa: PLC0415

    from pyp_etl_pipeline_spark.streaming.events import (  # noqa: PLC0415
        read_events_stream,
        streaming_window_join,
    )

    scratch = scratch_path("st09_scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    src = os.path.join(sf, "events.parquet")
    shutil.copy(src, os.path.join(scratch, "a_events.parquet"))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(src)
    nanos = isinstance(raw.schema["ts"].dataType, _Long)
    ts_expr = F.expr(f"ts + {30 * 86400 * 10**9}") if nanos else F.expr("ts + INTERVAL 30 DAYS")
    sentinel = (
        raw.orderBy(F.col("ts").desc())
        .limit(1)
        .withColumn("ts", ts_expr)
        .withColumn("event_id", F.lit(-1).cast("long"))
        .withColumn("user_id", F.lit(-1).cast("long"))
        .withColumn("event_type", F.lit("sentinel"))
    )
    sent_dir = scratch + "_sent"
    sentinel.coalesce(1).write.mode("overwrite").parquet(sent_dir)
    part = next(f for f in os.listdir(sent_dir) if f.endswith(".parquet"))
    shutil.copy(os.path.join(sent_dir, part), os.path.join(scratch, "b_sentinel.parquet"))
    shutil.rmtree(sent_dir, ignore_errors=True)
    now = time.time()
    os.utime(os.path.join(scratch, "a_events.parquet"), (now - 60, now - 60))
    os.utime(os.path.join(scratch, "b_sentinel.parquet"), (now + 60, now + 60))

    errors = (
        read_events_stream(spark, scratch, glob="*.parquet", max_files_per_trigger=1)
        .filter(F.col("event_type").isin("error", "sentinel"))
        .select(F.col("event_id").alias("err_event_id"), "user_id", F.col("ts").alias("start_ts"))
    )
    clicks = (
        read_events_stream(spark, scratch, glob="*.parquet", max_files_per_trigger=1)
        .filter(F.col("event_type").isin("click", "sentinel"))
        .select(F.col("event_id").alias("click_event_id"), "user_id", "ts")
    )
    joined = streaming_window_join(
        errors, clicks, window="6 hours", watermark="12 hours", how="leftOuter"
    ).select("err_event_id", "user_id", "click_event_id")
    name = "st09_out_" + uuid.uuid4().hex[:8]
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name).filter(F.col("err_event_id") >= 0)


ST09_SQL = """
-- Pre-1970 rows are excluded: Structured Streaming initializes the
-- watermark to epoch 0, so a pre-1970 event time is late-on-arrival
-- and every stateful operator drops it (documented engine semantic;
-- the --tsextremes sweep makes it visible).
WITH err AS (
  SELECT event_id AS err_event_id, user_id, ts AS start_ts
  FROM events WHERE event_type = 'error' AND ts >= TIMESTAMP '1970-01-01'
),
clk AS (SELECT event_id AS click_event_id, user_id, ts FROM events
        WHERE event_type = 'click' AND ts >= TIMESTAMP '1970-01-01')
SELECT err.err_event_id, err.user_id, clk.click_event_id
FROM err LEFT JOIN clk
  ON err.user_id = clk.user_id
 AND clk.ts >= err.start_ts
 AND clk.ts <= err.start_ts + INTERVAL 6 HOUR
"""


# --------------------------------------------------------------------------
# js01: semi-structured JSON extraction (schema'd from_json, JVM-side)
# --------------------------------------------------------------------------

def js01_json_extract_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Parse the events.props JSON payload with a SCHEMA'd ``from_json``
    (whole-stage-codegen JVM parse — never a Python JSON loop) and roll
    up the extracted integer per event type. Malformed documents parse
    to NULL and are counted separately (n_parsed vs n_events) — the
    tolerant-reader contract a 100 TB semi-structured feed needs."""
    e = load_table(spark, sf, "events")
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.count("k").cast("long").alias("n_parsed"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.count_distinct(F.col("k")).cast("long").alias("n_distinct_k"),
        )
    )


JS01_SQL = """
WITH x AS (
  -- json_valid guard: DuckDB json_extract RAISES on malformed/empty
  -- input while Spark's from_json reads it as NULL (the operator's
  -- tolerant-reader contract; empty-string sweep, r8).
  -- json_type guard (--badjson sweep, r10): the schema'd from_json is
  -- STRICT — only JSON integer tokens parse as k BIGINT; 1.5, "7",
  -- 1e3 all read NULL in Spark, while json_extract_string + TRY_CAST
  -- would coerce them (2, 7, 1000). DuckDB types non-negative
  -- integers UBIGINT (TRY_CAST nulls the > LONG_MAX tail, matching
  -- Spark's overflow-to-null). Duplicate keys are RFC-8259-undefined
  -- (Spark keeps the LAST, DuckDB's yyjson the FIRST) — out of the
  -- data contract, never injected.
  -- VALID-PLACEHOLDER idiom (--empty at sf0.1, r11): `json_valid(p)
  -- AND json_type(p, ...)` is NOT a safe guard — over a parquet scan
  -- DuckDB evaluates the conjuncts without short-circuit and
  -- json_type RAISES on the '' rows json_valid would have masked
  -- (the same AND passes on a memory table, so only the sf0.1 family
  -- run caught it). Route the invalid rows to the literal 'null'
  -- document instead: json_type('null', '$.k') is NULL -> k NULL,
  -- and json_type never sees malformed input on ANY plan shape.
  SELECT event_type,
         CASE WHEN json_type(CASE WHEN json_valid(props) THEN props
                                  ELSE 'null' END,
                             '$.k') IN ('BIGINT', 'UBIGINT')
              THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(k) AS BIGINT) AS n_parsed,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k,
       CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
FROM x GROUP BY 1
"""


# --------------------------------------------------------------------------
# ad01: traffic anomaly screen over the gap-filled series (gf01 ∘ w06)
# --------------------------------------------------------------------------

def ad01_traffic_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly event counts densified by gap_fill (so OUTAGE buckets —
    exactly the ones a sparse rollup silently omits — exist as zeros),
    then z-scored per event type with exact integer moments
    (windows.group_zscores). The composition every traffic monitor
    needs: without the spine, the most important anomalies (missing
    hours) are invisible."""
    from pyp_etl_pipeline_spark.operators import windows as _w  # noqa: PLC0415

    filled = _windows.gap_fill(load_table(spark, sf, "events"))
    out = _w.group_zscores(
        filled, group_col="event_type", value_col="n_events", id_col="bucket",
        z_threshold=2.0,
    )
    return out.select(
        F.col("id").alias("bucket"),
        "event_type",
        F.col("value").cast("long").alias("n_events"),
        "z",
        "is_anomaly",
    )


AD01_SQL = f"""
WITH g AS ({{GF01_BODY}}),
v AS (
  SELECT event_type AS grp, bucket AS id, n_events,
         CAST(floor(n_events * 100 + 0.5) AS BIGINT) AS q
  FROM g
),
st AS (SELECT grp, count(*) AS n, sum(q) AS s, sum(q * q) AS s2 FROM v GROUP BY 1),
z AS (
  SELECT v.id, v.grp, v.n_events,
         CASE WHEN (CAST(s2 AS DOUBLE) - (CAST(s AS DOUBLE) / n) * CAST(s AS DOUBLE)) / n <= 0
              THEN 0.0
              ELSE (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) / n)
                   / sqrt((CAST(s2 AS DOUBLE) - (CAST(s AS DOUBLE) / n) * CAST(s AS DOUBLE)) / n)
         END AS zval
  FROM v JOIN st ON v.grp = st.grp
)
SELECT id AS bucket, grp AS event_type, CAST(n_events AS BIGINT) AS n_events,
       round(zval, 6) AS z, abs(zval) > 2.0 AS is_anomaly
FROM z
"""
AD01_SQL = AD01_SQL.replace("{GF01_BODY}", GF01_SQL)


# --------------------------------------------------------------------------
# wz01: winsorized robust stats from histogram-sketch bounds
# --------------------------------------------------------------------------

def wz01_winsorized_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type mean with outliers clipped at the sketch p05/p95
    (operators/sketch.winsorized_stats) — robust stats without a
    per-group sort; bounds come from the mergeable histogram."""
    return _sketch.winsorized_stats(load_table(spark, sf, "events"))


WZ01_SQL = f"""
WITH v AS (
  SELECT event_type AS g, {_sqm("value")} AS m FROM events WHERE value IS NOT NULL
),
b AS (SELECT g, min(m) AS lo, max(m) AS hi, count(*) AS n FROM v GROUP BY 1),
binned AS (
  SELECT v.g, b.lo, b.hi, b.n,
         CAST(((m - lo) * 32) // (hi - lo + 1) AS INT) AS bin
  FROM v JOIN b USING (g)
),
cnt AS (SELECT g, lo, hi, n, bin, count(*) AS c FROM binned GROUP BY 1, 2, 3, 4, 5),
cum AS (
  SELECT *, sum(c) OVER (PARTITION BY g ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
  FROM cnt
),
qs AS (SELECT * FROM (VALUES (5, 'lo'), (95, 'hi')) t(p, q)),
hit AS (
  SELECT g, lo, hi, n, q, min(bin) AS qbin
  FROM cum, qs WHERE cum >= (n * p + 99) // 100
  GROUP BY 1, 2, 3, 4, 5
),
est AS (SELECT g, q, lo + ((2 * qbin + 1) * (hi - lo + 1)) // 64 AS e FROM hit),
bounds AS (
  SELECT g, max(CASE WHEN q = 'lo' THEN e END) AS lo_m,
         max(CASE WHEN q = 'hi' THEN e END) AS hi_m
  FROM est GROUP BY 1
),
c AS (
  SELECT v.g, m, greatest(lo_m, least(hi_m, m)) AS w,
         CAST(m < lo_m AS BIGINT) AS is_lo, CAST(m > hi_m AS BIGINT) AS is_hi
  FROM v JOIN bounds ON v.g = bounds.g
)
SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(is_lo) AS BIGINT) AS n_clipped_lo,
       CAST(sum(is_hi) AS BIGINT) AS n_clipped_hi,
       CAST((CASE WHEN sum(m) < 0 THEN -1 ELSE 1 END) * ((abs(sum(m)) + count(*) // 2) // count(*)) AS BIGINT) AS raw_mean_micro,
       CAST((CASE WHEN sum(w) < 0 THEN -1 ELSE 1 END) * ((abs(sum(w)) + count(*) // 2) // count(*)) AS BIGINT) AS winsorized_mean_micro
FROM c GROUP BY 1
"""


# --------------------------------------------------------------------------
# mm08: Walsh-Hadamard sequency spectrum from real decoded PCM
# --------------------------------------------------------------------------

def mm08_hadamard_spectrum(spark: SparkSession, sf: str) -> DataFrame:
    """8 sequency-band energies per synthesized WAV clip: payload bytes
    -> RIFF walk -> int16 PCM -> exact int64 Walsh-Hadamard transform
    (multimodal/binary_ops.hadamard_spectrum). The twin recomputes every
    coefficient from the closed-form synth signal, so the full decode +
    transform path is hash-certified — real spectral DSP with zero
    float drift (no trig: the WHT basis is ±1)."""
    from pyp_etl_pipeline_spark.multimodal.binary_ops import hadamard_spectrum  # noqa: PLC0415
    from pyp_etl_pipeline_spark.multimodal.codecs import wav_encode_pcm16  # noqa: PLC0415

    # Measured r9: adding a numbered repartition after this distinct
    # made it SLOWER (0.61 -> 0.76 quiet min-of-3) — the synth+WHT over
    # 2.5k rows is cheap enough that the extra shuffle round-trip costs
    # more than the parallelism buys. The AQE small-shuffle trap only
    # bites when downstream per-row compute dominates (dd09's shingles).
    d = load_table(spark, sf, "documents").select("doc_id").filter(F.col("doc_id") % 2 == 1).distinct()

    def encode(i):
        k = 1 + i % 7
        n = 100 + i % 50
        return wav_encode_pcm16([(((j * k) % 256) - 128) * 64 for j in range(n)], 8000)

    media = synth_media(d, encode)
    return hadamard_spectrum(media)


MM08_SQL = """
WITH odd AS (
  SELECT DISTINCT doc_id, CAST(1 + doc_id % 7 AS BIGINT) AS k
  FROM documents WHERE doc_id % 2 = 1
),
coeff AS (
  SELECT doc_id, f,
         list_sum(list_transform(range(0, 64), j ->
           (((j * k) % 256 - 128) * 64) * (1 - 2 * (bit_count(f & j) % 2)))) AS h
  FROM odd, (SELECT unnest(range(0, 64)) AS f) fs
)
SELECT doc_id AS media_id, CAST(f // 8 AS INT) AS band,
       CAST(sum(h * h) AS BIGINT) AS energy
FROM coeff GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# cp01: small-file compaction plan (order-preserving target-size groups)
# --------------------------------------------------------------------------

def cp01_compaction_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Per-day order batches play the small files of a date-sorted
    table; operators/export.plan_compaction assigns them to ~5000-row
    merge groups over the deterministic distributed prefix sum, and the
    rollup certifies group contiguity (min/max day per group) — the
    lakehouse OPTIMIZE planning step."""
    from pyp_etl_pipeline_spark.operators.export import plan_compaction  # noqa: PLC0415

    files = (
        load_table(spark, sf, "orders")
        .groupBy("o_orderdate")
        .agg(F.count("*").cast("long").alias("n_rows"))
    )
    plan = plan_compaction(files, "n_rows", "o_orderdate", target_size=5000)
    return (
        plan.groupBy("merge_group")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("n_rows").cast("long").alias("total_rows"),
            F.min("o_orderdate").alias("first_day"),
            F.max("o_orderdate").alias("last_day"),
        )
    )


CP01_SQL = """
WITH f AS (
  SELECT o_orderdate, CAST(count(*) AS BIGINT) AS n_rows FROM orders GROUP BY 1
),
c AS (
  SELECT *, sum(n_rows) OVER (ORDER BY o_orderdate ROWS UNBOUNDED PRECEDING) AS cum
  FROM f
),
g AS (SELECT *, (cum - n_rows) // 5000 AS merge_group FROM c)
SELECT CAST(merge_group AS BIGINT) AS merge_group,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_rows) AS BIGINT) AS total_rows,
       min(o_orderdate) AS first_day, max(o_orderdate) AS last_day
FROM g GROUP BY 1
"""


# --------------------------------------------------------------------------
# tx15: Flesch readability gate
# --------------------------------------------------------------------------

def tx15_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch reading-ease per document (operators/textan.
    readability_features) — the classic readability screen for corpus
    curation, with vowel-group syllable estimates and a micro-floored
    engine-identical score."""
    return _textan.readability_features(load_corpus(spark, sf, "documents"))


TX15_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split({_snt("text")}, ' '), w -> w <> '') AS toks,
         list_filter(string_split_regex(text, '[.!?]+'), x -> trim(x) <> '') AS sents
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(len(sents) AS BIGINT) AS n_sentences,
         CAST(list_sum(list_transform(toks,
              w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))) AS BIGINT) AS n_syllables
  FROM t
)
SELECT doc_id, n_words, n_sentences,
       -- coalesce is for EMPTY token lists (list_sum([]) is NULL); a NULL
       -- text (n_words NULL) must stay NULL like the Spark aggregate
       CASE WHEN n_words IS NULL THEN NULL ELSE coalesce(n_syllables, 0) END AS n_syllables,
       CASE WHEN n_words > 0 AND n_sentences > 0 THEN
         CAST(floor(
           (206.835
            - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
            - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
           * 1000000 + 0.5) AS BIGINT)
       END AS flesch_micro
FROM m
"""


# --------------------------------------------------------------------------
# pf01: one-pass table profiler (catalog/ANALYZE summary)
# --------------------------------------------------------------------------

def pf01_table_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Column profile of customer in ONE aggregate pass
    (operators/quality.profile_table): n / nulls / exact distincts /
    min / max per column — the data-catalog summary every published
    table carries. At 100 TB the distincts swap to HLL registers
    (ia01's pattern); the contract is unchanged."""
    from pyp_etl_pipeline_spark.operators.quality import profile_table  # noqa: PLC0415

    c = load_table(spark, sf, "customer")
    return profile_table(
        c, ("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    )


def _pf01_col_sql(c: str) -> str:
    return (
        f"SELECT '{c}' AS column, CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(count(*) - count({c}) AS BIGINT) AS n_null, "
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
        f"CAST(min({c}) AS VARCHAR) AS min_str, CAST(max({c}) AS VARCHAR) AS max_str "
        f"FROM customer"
    )


PF01_SQL = " UNION ALL ".join(
    _pf01_col_sql(c)
    for c in ("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
)


# --------------------------------------------------------------------------
# ep01: epoch-salted deterministic training shuffle
# --------------------------------------------------------------------------

def ep01_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Two training epochs of the corpus through the RNG-free shuffle
    (operators/sampling.epoch_shuffle): per (epoch, shard) — doc count,
    char volume, and the shard's first document in training order.
    Epochs decorrelate (different orders/shards) yet every epoch is
    byte-reproducible after a crash; the oracle recomputes both epochs
    from the same md5 keys."""
    from pyp_etl_pipeline_spark.operators.sampling import epoch_shuffle  # noqa: PLC0415

    d = load_table(spark, sf, "documents").select("doc_id", "n_chars")
    eps = [epoch_shuffle(d, epoch=e) for e in (0, 1)]
    both = eps[0].unionByName(eps[1])
    return both.groupBy("epoch", "shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min(F.struct("order_key", "doc_id"))["doc_id"].alias("first_doc"),
    )


EP01_SQL = """
WITH e AS (
  SELECT doc_id, n_chars, epoch,
         md5(doc_id::VARCHAR || '|' || 'epoch-shuffle-v1' || '|' || epoch::VARCHAR) AS order_key
  FROM documents, (SELECT unnest([0, 1]) AS epoch)
),
s AS (
  SELECT *, CAST(('0x' || substring(order_key, 1, 8))::BIGINT % 8 AS INT) AS shard
  FROM e
)
SELECT CAST(epoch AS INT) AS epoch, shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min({'k': order_key, 'd': doc_id}).d AS first_doc
FROM s GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# tc01: degree-oriented triangle census of the supplier co-purchase graph
# --------------------------------------------------------------------------

def tc01_triangle_census(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the supplier
    co-purchase graph (suppliers sharing an order), via the
    degree-oriented compact-forward join (operators/graph.
    triangle_stats) — out-degree bounded O(sqrt(m)) after orientation,
    so the wedge join survives hub-heavy graphs where naive id-ordering
    explodes."""
    from pyp_etl_pipeline_spark.operators.graph import triangle_stats  # noqa: PLC0415

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    # one month of orders: the full-history co-purchase graph converges
    # to a complete graph as sf grows (every supplier eventually shares
    # SOME order with every other) — the time slice keeps it sparse,
    # which is the regime the degree-oriented algorithm is for
    o = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderdate").between("1995-01-01", "1995-01-31"))
        .select(F.col("o_orderkey").alias("k"))
    )
    x = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("src"))
    y = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("dst"))
    edges = x.join(y, "k").join(o, "k").filter(F.col("src") < F.col("dst")).select("src", "dst")
    return triangle_stats(edges)


TC01_SQL = """
WITH om AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
),
e0 AS (
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
  JOIN om ON om.o_orderkey = x.l_orderkey
),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0) GROUP BY 1
),
ed AS (
  SELECT e0.a, e0.b, da.d AS da, db.d AS db
  FROM e0 JOIN deg da ON da.n = e0.a JOIN deg db ON db.n = e0.b
),
fwd AS (
  SELECT CASE WHEN (da < db) OR (da = db AND a < b) THEN a ELSE b END AS u,
         CASE WHEN (da < db) OR (da = db AND a < b) THEN b ELSE a END AS v,
         CASE WHEN (da < db) OR (da = db AND a < b) THEN db ELSE da END AS dv
  FROM ed
),
w2 AS (
  SELECT x.u, x.v, x.dv, y.v AS w, y.dv AS dw
  FROM fwd x JOIN fwd y ON x.u = y.u
  WHERE (x.dv < y.dv) OR (x.dv = y.dv AND x.v < y.v)
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM w2 JOIN fwd f ON f.u = w2.v AND f.v = w2.w
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes, sum(d) AS deg_sum,
         CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_nodes, CAST(deg_sum // 2 AS BIGINT) AS n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN CAST((3 * n_triangles * 1000000) // n_wedges AS BIGINT) END AS gcc_micro
FROM st, tri
"""


# --------------------------------------------------------------------------
# bf01: Bloom-filter decontamination pre-screen vs exact semi-join
# --------------------------------------------------------------------------

def bf01_bloom_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """dc01's decontamination with a BLOOM pre-screen: the eval set's
    shingles build an engine-portable bitset (operators/sketch.
    bloom_build — the sketch for when even the distinct eval-shingle
    set is too big to broadcast exactly), corpus shingles probe it, and
    the result reports bloom flags NEXT TO the exact semi-join flags —
    certifying the no-false-negative guarantee row by row (flagged_exact
    implies flagged_bloom) and measuring the false-positive cost."""
    from pyp_etl_pipeline_spark.operators.dedup import word_shingles  # noqa: PLC0415

    d = load_corpus(spark, sf, "documents")
    # null text shingles to a single NULL entry (array_join(NULL)) —
    # filter it so null-text docs are absent from the report, matching
    # the twin's unnest(NULL)-drops-row semantics (null sweep, r8)
    bench_sh = (
        d.filter(F.col("doc_id") % 25 == 0)
        .select(F.explode(word_shingles("text")).alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .distinct()
    )
    corpus_sh = (
        d.filter(F.col("doc_id") % 25 != 0)
        .select(F.col("doc_id"), F.explode(word_shingles("text")).alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .distinct()
    )
    bloom = _sketch.bloom_build(bench_sh, "shingle")
    probed = _sketch.bloom_probe(corpus_sh, bloom, "shingle")
    exact = corpus_sh.join(bench_sh, "shingle").select("doc_id").distinct().withColumn(
        "flagged_exact", F.lit(True)
    )
    per_doc = probed.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.col("might_contain").cast("long")).cast("long").alias("n_bloom_hits"),
    )
    return (
        per_doc.join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom_hits",
            (F.col("n_bloom_hits") > 0).alias("flagged_bloom"),
            F.coalesce(F.col("flagged_exact"), F.lit(False)).alias("flagged_exact"),
        )
    )


def _bf01_sql(n_bits: int = 8192, k: int = 4, salt: str = "bloom-v1") -> str:
    from pyp_etl_pipeline_spark.driver_queries import sql_shingles as _sqsh  # noqa: PLC0415
    from pyp_etl_pipeline_spark.operators.sketch import sql_h48  # noqa: PLC0415

    pos_sel = ", ".join(
        f"{sql_h48('shingle', f'{salt}:{r}')} % {n_bits} AS p{r}" for r in range(k)
    )
    probe_pos = ", ".join(f"p{r}" for r in range(k))
    return f"""
WITH t AS (SELECT doc_id, string_split({_snt("text")}, ' ') AS toks FROM documents),
s AS (SELECT doc_id, {_sqsh("toks")} AS sh FROM t),
bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE doc_id % 25 = 0),
corpus AS (SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM s WHERE doc_id % 25 <> 0),
bpos AS (SELECT {pos_sel} FROM bench),
bits AS (
  SELECT word, bit_or(mask) AS bits FROM (
    {" UNION ALL ".join(f"SELECT p{r} // 63 AS word, (1::BIGINT << CAST(p{r} % 63 AS INT)) AS mask FROM bpos" for r in range(k))}
  ) GROUP BY 1
),
cpos AS (SELECT doc_id, shingle, {pos_sel} FROM corpus),
cw AS (
  {" UNION ALL ".join(f"SELECT doc_id, shingle, p{r} AS pos FROM cpos" for r in range(k))}
),
hits AS (
  SELECT c.doc_id, c.shingle,
         CAST(count(CASE WHEN (b.bits & (1::BIGINT << CAST(c.pos % 63 AS INT))) <> 0 THEN 1 END) AS BIGINT) AS n_set
  FROM cw c LEFT JOIN bits b ON b.word = c.pos // 63
  GROUP BY 1, 2
),
probed AS (SELECT doc_id, shingle, n_set = {k} AS might_contain FROM hits),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN might_contain THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits
  FROM probed GROUP BY 1
),
exact AS (SELECT DISTINCT c.doc_id FROM corpus c JOIN bench USING (shingle))
SELECT p.doc_id, p.n_shingles, p.n_bloom_hits,
       p.n_bloom_hits > 0 AS flagged_bloom,
       e.doc_id IS NOT NULL AS flagged_exact
FROM per_doc p LEFT JOIN exact e ON p.doc_id = e.doc_id
"""


BF01_SQL = _bf01_sql()


# --------------------------------------------------------------------------
# st10: streaming materialized rollup — incremental state merge per batch
# --------------------------------------------------------------------------

def st10_streaming_materialized_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """The streaming face of ia01: events arrive in micro-batches (the
    scratch dir splits the feed into two files, maxFilesPerTrigger=1),
    and foreachBatch folds each batch's PARTIAL STATE into a persisted
    state table via the associative merge (operators/incremental) —
    O(batch + |state|) per trigger, never a re-read of history. The
    final materialized state, finalized at read time, must equal the
    single-pass batch aggregate over ALL events — which is exactly what
    the oracle computes."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415
    import uuid  # noqa: PLC0415

    from pyp_etl_pipeline_spark.operators import incremental as incr  # noqa: PLC0415
    from pyp_etl_pipeline_spark.streaming.events import read_events_stream  # noqa: PLC0415
    from pyp_etl_pipeline_spark.tables import load_table as _lt  # noqa: PLC0415

    scratch = scratch_path("st10_scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    raw = spark.read.parquet(os.path.join(sf, "events.parquet"))
    for tag, flt in (("a", "event_id % 2 = 0"), ("b", "event_id % 2 = 1")):
        part_dir = scratch + "_" + tag
        raw.filter(flt).coalesce(1).write.mode("overwrite").parquet(part_dir)
        part = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        shutil.copy(os.path.join(part_dir, part), os.path.join(scratch, f"{tag}.parquet"))
        shutil.rmtree(part_dir, ignore_errors=True)

    state = {"scalars": None, "regs": None, "n_batches": 0}

    def fold_batch(batch_df, batch_id):  # noqa: ANN001
        s = incr.agg_state(batch_df)
        if state["scalars"] is not None:
            s = incr.merge_states((state["scalars"], state["regs"]), s)
        # anchor the merged state so lineage does not grow per batch
        state["scalars"] = s[0].localCheckpoint()
        state["regs"] = s[1].localCheckpoint()
        state["n_batches"] += 1

    stream = read_events_stream(spark, scratch, glob="*.parquet", max_files_per_trigger=1)
    name = "st10_" + uuid.uuid4().hex[:8]
    q = stream.writeStream.foreachBatch(fold_batch).queryName(name).start()
    q.processAllAvailable()
    q.stop()
    assert state["n_batches"] >= 2, "split feed must arrive as multiple micro-batches"
    return incr.finalize_state((state["scalars"], state["regs"]))


ST10_SQL = IA01_SQL


# --------------------------------------------------------------------------
# w10: OHLC bars (first/last-by-order aggregates, no window sort)
# --------------------------------------------------------------------------

def w10_ohlc_bars(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly OHLC bars per event type: open/close are min_by/max_by on
    a single integer ordering key (epoch*1e7 + event_id — total order,
    no struct comparison portability risk), high/low plain min/max.
    The candlestick/telemetry shape WITHOUT a per-bucket sort or
    window: one map-side-combinable aggregate, the first/last values
    ride along as arg-min/arg-max state."""
    e = load_table(spark, sf, "events").filter(F.col("value").isNotNull())
    ord_key = (
        F.col("ts").cast("long") * F.lit(10_000_000)
        + F.col("event_id")
    )
    pre = e.select(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "event_type",
        "value",
        ord_key.alias("__o"),
    )
    return pre.groupBy("window_start", "event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min_by("value", F.col("__o")).alias("open"),
        F.max_by("value", F.col("__o")).alias("close"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
    )


W10_SQL = """
WITH e AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) * 10000000 + event_id AS o
  FROM events WHERE value IS NOT NULL
)
SELECT window_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       arg_min(value, o) AS open,
       arg_max(value, o) AS close,
       max(value) AS high,
       min(value) AS low
FROM e GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# mm09: perceptual image hash (dHash) from real decoded PNG pixels
# --------------------------------------------------------------------------

def mm09_image_dhash(spark: SparkSession, sf: str) -> DataFrame:
    """dHash per synthesized 16x8 patterned PNG
    (multimodal/binary_ops.dhash_features): payload bytes -> zlib
    inflate -> scanline unfilter -> sampled luminance lattice -> 64
    gradient bits as two 32-bit halves. The twin recomputes every bit
    from the closed-form pixel pattern, so stride/unfilter/sampling
    bugs break the hash — and the hash itself is the image-side SimHash
    for near-duplicate image dedup."""
    from pyp_etl_pipeline_spark.multimodal.binary_ops import dhash_features  # noqa: PLC0415
    from pyp_etl_pipeline_spark.multimodal.codecs import png_encode_gray_pixels  # noqa: PLC0415

    d = load_table(spark, sf, "documents").select("doc_id").filter(F.col("doc_id") % 2 == 0)

    def encode(i):
        return png_encode_gray_pixels(
            [[(i * 7 + x * 13 + y * 31) % 256 for x in range(16)] for y in range(8)]
        )

    media = synth_media(d, encode)
    return dhash_features(media)


def _mm09_sql(grid: int = 8, w: int = 16, h: int = 8) -> str:
    # sampled luminance v(x, y) = (i*7 + sx(x)*13 + sy(y)*31) % 256
    def v(xe: str, y: int) -> str:
        return f"((doc_id * 7 + (({xe}) * {w} // {grid + 1}) * 13 + {(y * h // grid) * 31}) % 256)"

    half = grid // 2

    def half_sum(y0: int, y1: int) -> str:
        terms = []
        for y in range(y0, y1):
            for x in range(grid):
                bit = f"CASE WHEN {v(str(x + 1), y)} > {v(str(x), y)} THEN (1::BIGINT << {((y - y0) * grid + x)}) ELSE 0::BIGINT END"
                terms.append(bit)
        return "(" + " + ".join(terms) + ")"

    def nbits() -> str:
        terms = []
        for y in range(grid):
            for x in range(grid):
                terms.append(f"CASE WHEN {v(str(x + 1), y)} > {v(str(x), y)} THEN 1 ELSE 0 END")
        return "(" + " + ".join(terms) + ")"

    return f"""
SELECT doc_id AS media_id, CAST({w} AS INT) AS width, CAST({h} AS INT) AS height,
       CAST({half_sum(0, half)} AS BIGINT) AS dhash_lo,
       CAST({half_sum(half, grid)} AS BIGINT) AS dhash_hi,
       CAST({nbits()} AS INT) AS n_gradient_bits
FROM documents WHERE doc_id % 2 = 0
"""


MM09_SQL = _mm09_sql()


# --------------------------------------------------------------------------
# mm10: near-duplicate image pairs (dHash hamming, pigeonhole-blocked)
# --------------------------------------------------------------------------

def mm10_image_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Image near-dup pairs: the mm09 dHashes self-join blocked on
    4 x 16-bit hash chunks (pigeonhole: hamming <= 3 forces agreement
    on >= 1 chunk — sh01's SimHash trick applied to images), then exact
    hamming <= 12 verification over the candidate pairs. The synth
    pattern (i*7 mod 256 per-pixel offset) makes doc_ids congruent
    modulo small cycles produce genuinely similar images, so real pairs
    exist. Never all-pairs: candidates come from chunk-equality
    buckets."""
    from pyp_etl_pipeline_spark.multimodal.binary_ops import dhash_features  # noqa: PLC0415

    # same media as mm09. The hash relation feeds BOTH self-join legs, and
    # the MapInPandas synth+decode chain defeats plan canonicalization, so
    # ReuseExchange misses and the whole Python decode pipeline ran TWICE
    # (confirmed: 2x MapInPandas chains, 0 ReusedExchange in the before-
    # plan). Lazy localCheckpoint materializes the tiny (id, lo, hi)
    # relation once inside the timed action (r13 optimization).
    hashed = (
        mm09_image_dhash(spark, sf)
        .select("media_id", "dhash_lo", "dhash_hi")
        .distinct()
        .localCheckpoint(eager=False)
    )
    chunks = hashed.select(
        "media_id",
        "dhash_lo",
        "dhash_hi",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("c"), (F.col("dhash_lo") % 65536).alias("v")),
                F.struct(F.lit(1).alias("c"), F.expr("dhash_lo DIV 65536").alias("v")),
                F.struct(F.lit(2).alias("c"), (F.col("dhash_hi") % 65536).alias("v")),
                F.struct(F.lit(3).alias("c"), F.expr("dhash_hi DIV 65536").alias("v")),
            )
        ).alias("ch"),
    ).select("media_id", "dhash_lo", "dhash_hi", F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    a = chunks.select(
        F.col("media_id").alias("id_a"),
        F.col("dhash_lo").alias("lo_a"),
        F.col("dhash_hi").alias("hi_a"),
        "c",
        "v",
    )
    b = chunks.select(
        F.col("media_id").alias("id_b"),
        F.col("dhash_lo").alias("lo_b"),
        F.col("dhash_hi").alias("hi_b"),
        "c",
        "v",
    )
    cand = (
        a.join(b, ["c", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "lo_a", "hi_a", "lo_b", "hi_b")
        .distinct()
    )
    ham = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    )
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= 12)
        .select("id_a", "id_b", "hamming")
    )


MM10_SQL = f"""
WITH h AS ({{MM09_BODY}}),
hh AS (SELECT DISTINCT media_id, dhash_lo, dhash_hi FROM h),
pairs AS (
  SELECT x.media_id AS id_a, y.media_id AS id_b,
         CAST(bit_count(xor(x.dhash_lo, y.dhash_lo))
              + bit_count(xor(x.dhash_hi, y.dhash_hi)) AS INT) AS hamming,
         (x.dhash_lo % 65536 = y.dhash_lo % 65536
          OR x.dhash_lo // 65536 = y.dhash_lo // 65536
          OR x.dhash_hi % 65536 = y.dhash_hi % 65536
          OR x.dhash_hi // 65536 = y.dhash_hi // 65536) AS chunk_match
  FROM hh x JOIN hh y ON x.media_id < y.media_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 12 AND chunk_match
"""
MM10_SQL = MM10_SQL.replace("{MM09_BODY}", MM09_SQL)


# --------------------------------------------------------------------------
# ann06: IVF-PQ — coarse inverted lists + ADC, the production ANN shape
# --------------------------------------------------------------------------

def ann06_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """FAISS-style IVF8,PQ4x8: a full-dim 8-centroid coarse quantizer
    (exact integer Lloyd's, 1 iter) partitions the corpus; each query
    probes its 2 nearest lists and ranks them by PQ asymmetric distance
    (similarity.ivfpq_topk). The twin replays coarse training, vector
    assignment, probe selection, PQ training, encoding, LUTs and ADC —
    every stage on the same integers, hash-certified."""
    from pyp_etl_pipeline_spark.operators import similarity as _sim  # noqa: PLC0415

    emb = load_corpus_unique(spark, sf, "embeddings")
    # one fit loop trains both: bit-identical to kmeans_fit(k=8) +
    # pq_fit(m=4, ksub=8) (pinned by test_lloyd_trainers_match_python_reference)
    coarse, books = _sim.ivfpq_fit(emb, k=8, m=4, ksub=8, n_iter=1)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = _sim.ivfpq_topk(emb, q, coarse, books, nprobe=2, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("match_rank"),
        "adc_dist",
        F.col("vcid").cast("int").alias("vcid"),
    )


def _ann06_sql(
    m: int = 4, ksub: int = 8, kc: int = 8, nprobe: int = 2, dim: int = 64, k: int = 5
) -> str:
    dsub = dim // m
    micro = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
    )

    def dist(a: str, b: str, n: int) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {n}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    parts = [f"WITH e AS (SELECT vec_id, {micro} AS xm FROM (SELECT DISTINCT * FROM embeddings))"]
    # coarse quantizer: seeds = kc smallest ids, ONE Lloyd iteration
    parts.append(
        f"""cc0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, xm AS cm
  FROM (SELECT vec_id, xm FROM e ORDER BY vec_id LIMIT {kc}))"""
    )
    parts.append(
        f"""ca1 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist("e.xm", "c.cm", dim)}, c.cid) AS rn
    FROM e CROSS JOIN cc0 c) WHERE rn = 1)"""
    )
    parts.append(
        f"""cu1 AS (
  SELECT a.cid, t.i, CAST(floor(sum(e.xm[t.i]) / count(*) + 0.5) AS BIGINT) AS comp
  FROM ca1 a JOIN e USING (vec_id) CROSS JOIN generate_series(1, {dim}) t(i)
  GROUP BY 1, 2)"""
    )
    parts.append(
        """cc1 AS (
  SELECT p.cid, coalesce(n.cm, p.cm) AS cm
  FROM cc0 p LEFT JOIN
       (SELECT cid, array_agg(comp ORDER BY i) AS cm FROM cu1 GROUP BY cid) n USING (cid))"""
    )
    parts.append(
        f"""vassign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist("e.xm", "c.cm", dim)}, c.cid) AS rn
    FROM e CROSS JOIN cc1 c) WHERE rn = 1)"""
    )
    parts.append(
        f"""qprobe AS (
  SELECT vec_id AS qid, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist("e.xm", "c.cm", dim)}, c.cid) AS rn
    FROM e CROSS JOIN cc1 c WHERE e.vec_id % 100 = 0) WHERE rn <= {nprobe})"""
    )
    # per-subspace PQ training / encoding / LUTs (the ann05 pattern)
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(f"e{s} AS (SELECT vec_id, xm[{lo}:{hi}] AS sm FROM e)")
        parts.append(
            f"""c0_{s} AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, sm AS cm
  FROM (SELECT vec_id, sm FROM e{s} ORDER BY vec_id LIMIT {ksub}))"""
        )
        parts.append(
            f"""a1_{s} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist("e.sm", "c.cm", dsub)}, c.cid) AS rn
    FROM e{s} e CROSS JOIN c0_{s} c) WHERE rn = 1)"""
        )
        parts.append(
            f"""u1_{s} AS (
  SELECT a.cid, t.i, CAST(floor(sum(e.sm[t.i]) / count(*) + 0.5) AS BIGINT) AS comp
  FROM a1_{s} a JOIN e{s} e USING (vec_id) CROSS JOIN generate_series(1, {dsub}) t(i)
  GROUP BY 1, 2)"""
        )
        parts.append(
            f"""c1_{s} AS (
  SELECT p.cid, coalesce(n.cm, p.cm) AS cm
  FROM c0_{s} p LEFT JOIN
       (SELECT cid, array_agg(comp ORDER BY i) AS cm FROM u1_{s} GROUP BY cid) n USING (cid))"""
        )
        parts.append(
            f"""f{s} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist("e.sm", "c.cm", dsub)}, c.cid) AS rn
    FROM e{s} e CROSS JOIN c1_{s} c) WHERE rn = 1)"""
        )
        parts.append(
            f"""lut{s} AS (
  SELECT q.vec_id AS qid, c.cid, {dist("eq.sm", "c.cm", dsub)} AS d
  FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id % 100 = 0) q
  JOIN e{s} eq USING (vec_id) CROSS JOIN c1_{s} c)"""
        )
    code_joins = " ".join(f"JOIN f{s} USING (vec_id)" for s in range(1, m))
    code_cols = ", ".join(f"f{s}.cid AS k{s}" for s in range(m))
    parts.append(f"codes AS (SELECT f0.vec_id, {code_cols} FROM f0 {code_joins})")
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.qid = l0.qid AND l{s}.cid = cd.k{s}" for s in range(1, m)
    )
    adc = " + ".join(f"l{s}.d" for s in range(m))
    parts.append(
        f"""scored AS (
  SELECT l0.qid AS query_id, cd.vec_id AS neighbor_id, {adc} AS adc_dist, va.cid AS vcid
  FROM codes cd JOIN lut0 l0 ON l0.cid = cd.k0 {lut_joins}
  JOIN vassign va ON va.vec_id = cd.vec_id
  JOIN qprobe qp ON qp.qid = l0.qid AND qp.cid = va.cid
  WHERE cd.vec_id <> l0.qid)"""
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS match_rank,
       CAST(adc_dist AS BIGINT) AS adc_dist, CAST(vcid AS INT) AS vcid
FROM scored
QUALIFY match_rank <= {k}
"""
    )


ANN06_SQL = _ann06_sql()


def ann07_ivfpq_refine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ with exact re-ranking (FAISS IVFPQR; hnsw/refine precedent
    in the reference's `memberSchema (2).gql:86` embedding search): the
    ADC scan shortlists k*r candidates per query, then the EXACT integer
    micro L2 on the raw vectors decides the final top-k — the standard
    production recall fix. The shortlist broadcasts into the raw-vector
    scan (map-only second touch of the corpus); the twin replays the
    full ann06 pipeline at k*r and the rerank join bit-for-bit."""
    from pyp_etl_pipeline_spark.operators import similarity as _sim  # noqa: PLC0415

    emb = load_corpus_unique(spark, sf, "embeddings")
    coarse, books = _sim.ivfpq_fit(emb, k=8, m=4, ksub=8, n_iter=1)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = _sim.ivfpq_refine_topk(emb, q, coarse, books, nprobe=2, k=5, r_factor=3)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("match_rank"),
        "exact_dist",
        "adc_dist",
    )


def _ann07_sql(k: int = 5, r_factor: int = 3, dim: int = 64) -> str:
    micro = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
    )
    dist = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> (eq.xm[i] - ev.xm[i]) * (eq.xm[i] - ev.xm[i])))"
    )
    return f"""
WITH short AS ({_ann06_sql(k=k * r_factor)}),
e2 AS (SELECT vec_id, {micro} AS xm FROM (SELECT DISTINCT * FROM embeddings)),
rr AS (
  SELECT s.query_id, s.neighbor_id, s.adc_dist,
         CAST({dist} AS BIGINT) AS exact_dist
  FROM short s
  JOIN e2 ev ON ev.vec_id = s.neighbor_id
  JOIN e2 eq ON eq.vec_id = s.query_id
)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY exact_dist ASC, neighbor_id ASC) AS match_rank,
       exact_dist, adc_dist
FROM rr
QUALIFY match_rank <= {k}
"""


ANN07_SQL = _ann07_sql()


def fm01_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ORC round-trip certification — the second columnar format big
    lakes actually hold (Hive heritage). The orders table is written as
    zlib ORC partitioned-free, read back, and rolled up; the analytic
    twin on the source view certifies that types (timestamps included),
    row counts, and exact integer sums survive the format conversion.
    Columnar-format interop is a real migration surface: a 100 TB lake
    conversion job is exactly this plan at scale (scan -> write -> audit)."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from pyp_etl_pipeline_spark.functions.aggregates import exact_sum  # noqa: PLC0415

    o = load_table(spark, sf, "orders")

    path = scratch_path("fm01_orc")
    shutil.rmtree(path, ignore_errors=True)
    o.write.option("compression", "zlib").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_orders"),
        exact_sum("o_totalprice").alias("total_price"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_date"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_date"),
        F.count_distinct("o_custkey").cast("long").alias("n_customers"),
    )


def _fm01_sql() -> str:
    from pyp_etl_pipeline_spark.functions.aggregates import sql_exact_sum  # noqa: PLC0415

    return f"""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_exact_sum("o_totalprice")} AS total_price,
       CAST(min(o_orderdate) AS DATE) AS first_date,
       CAST(max(o_orderdate) AS DATE) AS last_date,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders GROUP BY 1
"""


FM01_SQL = _fm01_sql()


def mm12_gif_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL GIF decode end to end: per doc_id a valid GIF89a is
    synthesized (``codecs.gif_encode_gray_pixels`` — 256-gray global
    color table + genuine LZW compression with variable code widths),
    then ``binary_ops.gif_pixel_stats`` walks the actual container and
    LZW-DECOMPRESSES the pixel indices back (sub-block reassembly,
    KwKwK case, width growth). The DuckDB twin computes every statistic
    analytically from doc_id — pixel p(x,y) = (3x + 7y + doc_id) % 256
    on a (1 + doc_id%16) x (1 + doc_id%8) grid — so any codec bug
    (wrong width schedule, shifted scanline, palette misread) breaks
    the position-weighted checksum."""
    from pyp_etl_pipeline_spark.multimodal.binary_ops import gif_pixel_stats  # noqa: PLC0415
    from pyp_etl_pipeline_spark.multimodal.codecs import gif_encode_gray_pixels  # noqa: PLC0415

    d = load_table(spark, sf, "documents").select("doc_id")

    def encode(i):
        w, h = 1 + i % 16, 1 + i % 8
        return gif_encode_gray_pixels(
            [[(3 * x + 7 * y + i) % 256 for x in range(w)] for y in range(h)]
        )

    media = synth_media(d, encode)
    return gif_pixel_stats(media)


MM12_SQL = """
WITH g AS (
  SELECT doc_id, (1 + doc_id % 16)::INT AS w, (1 + doc_id % 8)::INT AS h FROM documents
),
px AS (
  SELECT doc_id, w, h,
         flatten(list_transform(generate_series(0, h - 1),
           y -> list_transform(generate_series(0, w - 1),
             x -> (3 * x + 7 * y + doc_id) % 256))) AS p
  FROM g
)
SELECT doc_id AS media_id, w AS width, h AS height,
       CAST(list_sum(p) AS BIGINT) AS sum_pixels,
       CAST(list_sum(list_transform(generate_series(1, w * h),
              i -> i * p[i])) % 1000000007 AS BIGINT) AS checksum
FROM px
"""


def mm13_gif_animation_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Animated-GIF frame extraction end to end: every 4th document
    carries an animation of 1 + doc_id%5 frames (frame f pixel =
    (3x + 7y + doc_id + 13f) % 256, delay 4 + doc_id%7 cs), encoded
    with the real LZW writer and decoded back frame by frame
    (``binary_ops.gif_frame_stats`` — GCE delays + per-frame LZW). The
    twin reproduces every frame's position-weighted checksum
    analytically, so a frame-boundary bug (GCE misparse, leaked dict
    state across frames, wrong sub-block stitch) breaks the hash."""
    from pyp_etl_pipeline_spark.multimodal.binary_ops import gif_frame_stats  # noqa: PLC0415
    from pyp_etl_pipeline_spark.multimodal.codecs import gif_encode_gray_animation  # noqa: PLC0415

    d = load_table(spark, sf, "documents").select("doc_id").filter(F.col("doc_id") % 4 == 0)

    def encode(i):
        w, h = 1 + i % 16, 1 + i % 8
        frames = [
            [[(3 * x + 7 * y + i + 13 * f) % 256 for x in range(w)] for y in range(h)]
            for f in range(1 + i % 5)
        ]
        return gif_encode_gray_animation(frames, delay_cs=4 + i % 7)

    media = synth_media(d, encode)
    return gif_frame_stats(media)


MM13_SQL = """
WITH g AS (
  SELECT doc_id, (1 + doc_id % 16)::INT AS w, (1 + doc_id % 8)::INT AS h,
         (1 + doc_id % 5)::INT AS nf, (4 + doc_id % 7)::INT AS delay_cs
  FROM documents WHERE doc_id % 4 = 0
),
fr AS (
  SELECT doc_id, w, h, delay_cs, unnest(generate_series(0, nf - 1))::INT AS f FROM g
),
px AS (
  SELECT doc_id, f, delay_cs, w, h,
         flatten(list_transform(generate_series(0, h - 1),
           y -> list_transform(generate_series(0, w - 1),
             x -> (3 * x + 7 * y + doc_id + 13 * f) % 256))) AS p
  FROM fr
)
SELECT doc_id AS media_id, f AS frame_idx, delay_cs,
       CAST(list_sum(p) AS BIGINT) AS sum_pixels,
       CAST(list_sum(list_transform(generate_series(1, w * h),
              i -> i * p[i])) % 1000000007 AS BIGINT) AS checksum
FROM px
"""


def se01_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-evolution read — the ingestion reality of any long-lived
    lake: batch p=1 is written with the OLD schema (doc_id, text), batch
    p=2 with the evolved superset (+ lang, n_chars); one
    ``mergeSchema`` read must union them with NULLs backfilling the
    old batch's missing columns, and partition discovery must type the
    p= directory key. The rollup is certified against an ANALYTIC twin
    on the source table, so any column mis-mapped, dropped, or
    spuriously backfilled by the evolving read breaks the hash."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    d = load_table(spark, sf, "documents")

    root = scratch_path("se01_evolve")
    shutil.rmtree(root, ignore_errors=True)
    d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text").write.parquet(
        os.path.join(root, "p=1")
    )
    d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text", "lang", "n_chars").write.parquet(
        os.path.join(root, "p=2")
    )
    back = spark.read.option("mergeSchema", "true").parquet(root)
    return back.groupBy(F.col("p").cast("int").alias("p")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count("lang").cast("long").alias("n_lang"),
        F.count_distinct("lang").cast("long").alias("n_lang_distinct"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(F.length("text")).cast("long").alias("sum_text_len"),
    )


SE01_SQL = """
SELECT 1 AS p,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(0 AS BIGINT) AS n_lang,
       CAST(0 AS BIGINT) AS n_lang_distinct,
       CAST(NULL AS BIGINT) AS sum_chars,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT 2 AS p,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(lang) AS BIGINT) AS n_lang,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_lang_distinct,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len
FROM documents WHERE doc_id % 2 = 1
"""


def ev02_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@5 of the production IVF-PQ search (ann06 configuration,
    nprobe=2) against the exact integer-L2 ground truth — the evaluation
    loop every ANN deployment tunes nprobe/codebooks by (the eval-tier
    sibling of ev01's linkage metrics). The twin replays the ENTIRE
    ann06 pipeline plus the brute-force ranking and the overlap count,
    so the measured recall itself is hash-certified."""
    from pyp_etl_pipeline_spark.operators import similarity as _sim  # noqa: PLC0415

    emb = load_corpus_unique(spark, sf, "embeddings")
    coarse, books = _sim.ivfpq_fit(emb, k=8, m=4, ksub=8, n_iter=1)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = _sim.ivfpq_topk(emb, q, coarse, books, nprobe=2, k=5)
    exact = _sim.exact_l2_topk(emb, q, k=5)
    return _sim.ann_recall(approx, exact, k=5)


def _ev02_sql(k: int = 5, dim: int = 64) -> str:
    micro = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
    )
    dist = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> (eq.xm[i] - ev.xm[i]) * (eq.xm[i] - ev.xm[i])))"
    )
    return f"""
WITH approx AS ({_ann06_sql(k=k)}),
e2 AS (SELECT vec_id, {micro} AS xm FROM (SELECT DISTINCT * FROM embeddings)),
ex AS (
  SELECT eq.vec_id AS query_id, ev.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY eq.vec_id
                            ORDER BY {dist} ASC, ev.vec_id ASC) AS rn
  FROM e2 eq JOIN e2 ev ON ev.vec_id <> eq.vec_id
  WHERE eq.vec_id % 100 = 0
),
hits AS (SELECT query_id, neighbor_id FROM ex WHERE rn <= {k})
SELECT a.query_id,
       CAST(count(h.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(h.neighbor_id) * 1000000 // {k} AS BIGINT) AS recall_micro
FROM approx a
LEFT JOIN hits h ON h.query_id = a.query_id AND h.neighbor_id = a.neighbor_id
GROUP BY 1
"""


EV02_SQL = _ev02_sql()


def mx03_temperature_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled corpus mixture with EXACT integer apportionment
    — the multilingual/pretraining sampling standard (p_i ∝ w_i^τ with
    τ = 0.5, i.e. square-root tempering, then a hard token budget split
    by the largest-remainder method so the allocations sum EXACTLY to
    the budget). Engine-portable by construction: sqrt(double) is IEEE
    correctly-rounded on every engine (unlike pow), the tempered weight
    floors to integer micro immediately, and base/remainder/leftover are
    pure BIGINT arithmetic — ties in the remainder rank break by source
    name. The relation is |sources|-sized (dimension-sized): the only
    corpus-scale work is the one partial-agg scan computing the weights."""
    N = 100_000
    d = load_table(spark, sf, "documents")
    w = d.groupBy("source").agg(F.sum("n_chars").cast("long").alias("weight"))
    m = F.floor(F.sqrt(F.col("weight").cast("double")) * 1_000_000 + F.lit(0.5)).cast("long")
    t = w.select("source", "weight", m.alias("__m"))
    tot = t.agg(F.sum("__m").cast("long").alias("__s"), F.count("*").alias("__k"))
    j = t.crossJoin(F.broadcast(tot))
    base = F.expr(f"CAST({N} AS BIGINT) * __m DIV __s")
    rem = F.expr(f"CAST({N} AS BIGINT) * __m % __s")
    j = j.select("source", "weight", "__s", base.alias("__base"), rem.alias("__rem"))
    lw = Window.orderBy(F.desc("__rem"), F.asc("source"))
    sw = Window.partitionBy(F.lit(1))
    out = j.select(
        "source",
        "weight",
        "__base",
        F.row_number().over(lw).alias("__rk"),
        (F.lit(N) - F.sum("__base").over(sw)).alias("__left"),
    )
    return out.select(
        "source",
        "weight",
        (F.col("__base") + (F.col("__rk") <= F.col("__left")).cast("long")).alias("alloc_tokens"),
    )


MX03_SQL = """
WITH w AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS weight FROM documents GROUP BY 1
),
t AS (
  SELECT source, weight,
         CAST(floor(sqrt(CAST(weight AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS m
  FROM w
),
s AS (SELECT CAST(sum(m) AS BIGINT) AS s FROM t),
j AS (
  SELECT source, weight,
         (100000::BIGINT * m) // s AS base,
         (100000::BIGINT * m) % s AS rem
  FROM t CROSS JOIN s
),
r AS (
  SELECT source, weight, base,
         row_number() OVER (ORDER BY rem DESC, source ASC) AS rk,
         100000 - CAST(sum(base) OVER () AS BIGINT) AS leftover
  FROM j
)
SELECT source, weight,
       CAST(base + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END) AS BIGINT) AS alloc_tokens
FROM r
"""


def ks01_keep_best_per_cluster(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-priority dedup survivorship: near-dup clusters (dd02
    pairs -> dd04 connected components) keep their HIGHEST-QUALITY
    member (max n_chars, ties to the smaller doc_id) instead of dd07's
    min-id representative — the curation rule real pipelines want (keep
    the best copy, not the first). Keeper election is a map-side-
    combinable min(struct(-quality, id)) per cluster — no window over
    the corpus; the keeper relation (one row per cluster) joins back on
    cluster_id, already co-partitioned from the aggregate (AQE
    broadcasts it when small). Output: every clustered doc with its
    keeper and verdict."""
    from pyp_etl_pipeline_spark.operators import dedup as _dedup  # noqa: PLC0415

    d = load_corpus(spark, sf, "documents")
    pairs = _dedup.shingle_pairs_jaccard(d, threshold=0.5)
    clusters = _dedup.dup_clusters(pairs)
    member = clusters.join(d.select("doc_id", "n_chars"), "doc_id")
    # NULL-quality docs must not win the election: Spark sorts a NULL
    # struct field FIRST under min() while the twin's ORDER BY ... DESC
    # puts NULLs LAST — coalesce to -1 on BOTH sides so a null-quality
    # doc ranks below every real one (ADVICE r8).
    keepers = member.groupBy("cluster_id").agg(
        F.min(
            F.struct(
                (-F.coalesce(F.col("n_chars"), F.lit(-1))).alias("nq"),
                F.col("doc_id").alias("id"),
            )
        ).alias("__k")
    )
    return (
        member.join(keepers, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            F.col("__k.id").alias("keeper_id"),
            (F.col("doc_id") == F.col("__k.id")).alias("kept"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
    )


def _ks01_sql(dd04_body: str) -> str:
    return f"""
WITH c AS ({dd04_body}),
member AS (
  SELECT c.doc_id, c.cluster_id, CAST(d.n_chars AS BIGINT) AS n_chars
  FROM c JOIN documents d ON d.doc_id = c.doc_id
),
keeper AS (
  SELECT cluster_id, doc_id AS keeper_id FROM (
    SELECT cluster_id, doc_id,
           row_number() OVER (PARTITION BY cluster_id ORDER BY coalesce(n_chars, -1) DESC, doc_id ASC) AS rn
    FROM member) WHERE rn = 1
)
SELECT m.doc_id, m.cluster_id, k.keeper_id, m.doc_id = k.keeper_id AS kept, m.n_chars
FROM member m JOIN keeper k USING (cluster_id)
"""


# --------------------------------------------------------------------------
# tx16: held-out perplexity gate (no self-scoring leakage)
# --------------------------------------------------------------------------

def tx16_heldout_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Odd docs scored under the add-one unigram LM fit on EVEN docs
    (operators/textan.heldout_unigram_logprob) — the leakage-free
    variant of the tx06 quality gate, with OOV counts."""
    d = load_corpus(spark, sf, "documents")
    return _textan.heldout_unigram_logprob(
        d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1)
    )


def _tx16_sql() -> str:
    from pyp_etl_pipeline_spark.functions.aggregates import sql_exact_avg as _seav  # noqa: PLC0415

    return f"""
WITH tr AS (
  SELECT unnest(string_split({_snt("text")}, ' ')) AS tok
  FROM documents WHERE doc_id % 2 = 0
),
counts AS (SELECT tok, count(*) AS tok_n FROM tr WHERE tok <> '' GROUP BY 1),
scal AS (SELECT sum(tok_n) AS train_n, count(*) AS train_v FROM counts),
ex AS (
  SELECT doc_id AS id, unnest(string_split({_snt("text")}, ' ')) AS tok
  FROM documents WHERE doc_id % 2 = 1
),
sc AS (
  SELECT e.id, c.tok_n,
         ln((coalesce(c.tok_n, 0) + 1) / (s.train_n + s.train_v + 1)) AS logp
  FROM ex e LEFT JOIN counts c USING (tok) CROSS JOIN scal s
  WHERE e.tok <> ''
)
SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN tok_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       {_seav("logp")} AS mean_logprob
FROM sc GROUP BY 1
"""


TX16_SQL = _tx16_sql()


# --------------------------------------------------------------------------
# ws01: RNG-free weighted sampling (Efraimidis-Spirakis A-ES)
# --------------------------------------------------------------------------

def ws01_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 documents under char-count-weighted A-ES sampling
    (operators/sampling.weighted_sample) — inclusion odds proportional
    to length, bit-reproducible (md5-uniform keys, no RNG)."""
    d = load_table(spark, sf, "documents").select("doc_id", "n_chars")
    return _sampling.weighted_sample(d, "n_chars")


from pyp_etl_pipeline_spark.operators import sampling as _sampling  # noqa: E402


WS01_SQL = """
WITH keyed AS (
  SELECT doc_id, n_chars,
         CAST(floor(
           ln((('0x' || substring(md5(doc_id::VARCHAR || 'wsample-v1'), 1, 12))::BIGINT + 1)
              / 281474976710657.0)
           / n_chars * 1000000 + 0.5) AS BIGINT) AS sample_key_micro
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, sample_key_micro
FROM keyed ORDER BY sample_key_micro DESC, doc_id ASC LIMIT 20
"""


# --------------------------------------------------------------------------
# mm11: audio fingerprint groups from the WHT sequency spectrum
# --------------------------------------------------------------------------

def mm11_audio_fingerprint_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Audio near-dup grouping: each clip's 8-bit spectral fingerprint
    sets bit b when band b holds more than 1/8 of the clip's energy
    (mm08's exact-int64 WHT bands), then clips bucket by fingerprint —
    the audio analog of mm10's image dHash buckets, all integer."""
    spec = mm08_hadamard_spectrum(spark, sf)
    tot = spec.groupBy("media_id").agg(F.sum("energy").alias("total"))
    fp = (
        spec.join(tot, "media_id")
        .withColumn(
            "bit",
            # shiftleft() takes a python int, not a Column — expr form
            F.when(F.col("energy") * 8 > F.col("total"), F.expr("shiftleft(1, band)")).otherwise(F.lit(0)),
        )
        .groupBy("media_id")
        .agg(F.sum("bit").cast("int").alias("fingerprint"))
    )
    return fp.groupBy("fingerprint").agg(
        F.count("*").cast("long").alias("n_clips"),
        F.min("media_id").alias("min_media_id"),
    )


MM11_SQL = f"""
WITH spec AS ({{MM08_BODY}}),
tot AS (SELECT media_id, sum(energy) AS total FROM spec GROUP BY 1),
fp AS (
  SELECT s.media_id,
         CAST(sum(CASE WHEN s.energy * 8 > t.total THEN (1 << s.band) ELSE 0 END) AS INT) AS fingerprint
  FROM spec s JOIN tot t USING (media_id) GROUP BY 1
)
SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_clips, min(media_id) AS min_media_id
FROM fp GROUP BY 1
"""
MM11_SQL = MM11_SQL.replace("{MM08_BODY}", MM08_SQL)


# --------------------------------------------------------------------------
# pp02: multimodal curation manifest — text dedup ∘ Gopher ∘ image near-dup
# --------------------------------------------------------------------------

def pp02_multimodal_curation(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end multimodal curation: every document gets a keep/drop
    decision with a REASON — exact-text duplicate (non-minimal id of a
    fingerprint group), Gopher quality failure, or near-duplicate image
    (a smaller-id image within dHash hamming 12, mm10's pairs). The
    pp01 pattern extended across modalities; all three gates are
    individually hash-certified queries, and the composed manifest is
    certified again here. First matching reason wins (dup before
    quality before image — dedup order mirrors pp01)."""
    from pyp_etl_pipeline_spark.operators import dedup as _dedup  # noqa: PLC0415

    d = load_corpus(spark, sf, "documents")
    fp = d.select("doc_id", _dedup.fingerprint("text").alias("f"))
    keeper = fp.groupBy("f").agg(F.min("doc_id").alias("keep_id"))
    tdup = fp.join(keeper, "f").select(
        "doc_id", (F.col("doc_id") != F.col("keep_id")).alias("is_text_dup")
    )
    g = _textan.gopher_quality_flags(d).select(
        F.col("id").alias("doc_id"), "gopher_pass"
    )
    img_drop = (
        mm10_image_neardup_pairs(spark, sf)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("img_dup", F.lit(True))
    )
    manifest = (
        d.select("doc_id", (F.col("doc_id") % 2 == 0).alias("has_image"))
        .join(tdup, "doc_id")
        .join(g, "doc_id")
        .join(img_drop, "doc_id", "left")
    )
    status = (
        F.when(F.col("is_text_dup"), F.lit("text_dup"))
        .when(~F.col("gopher_pass"), F.lit("gopher_fail"))
        .when(F.coalesce(F.col("img_dup"), F.lit(False)), F.lit("image_neardup"))
        .otherwise(F.lit("kept"))
    )
    return manifest.select(
        "doc_id", "has_image", status.alias("status"), (status == "kept").alias("keep")
    )


def _pp02_sql(tx07_body: str) -> str:
    from pyp_etl_pipeline_spark.driver_queries import sql_normalized_text as _snt2  # noqa: PLC0415

    return f"""
WITH fp AS (SELECT doc_id, md5({_snt2("text")}) AS f FROM documents),
keeper AS (SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY 1),
tdup AS (SELECT fp.doc_id, fp.doc_id <> k.keep_id AS is_text_dup FROM fp JOIN keeper k USING (f)),
g AS (SELECT doc_id, gopher_pass FROM ({tx07_body})),
ip AS (SELECT DISTINCT id_b AS doc_id FROM ({MM10_SQL})),
m AS (
  SELECT d.doc_id, d.doc_id % 2 = 0 AS has_image,
         CASE WHEN t.is_text_dup THEN 'text_dup'
              WHEN NOT g.gopher_pass THEN 'gopher_fail'
              WHEN ip.doc_id IS NOT NULL THEN 'image_neardup'
              ELSE 'kept' END AS status
  FROM documents d
  JOIN tdup t ON t.doc_id = d.doc_id
  JOIN g ON g.doc_id = d.doc_id
  LEFT JOIN ip ON ip.doc_id = d.doc_id
)
SELECT doc_id, has_image, status, status = 'kept' AS keep FROM m
"""


# --------------------------------------------------------------------------
# hy01: hybrid retrieval — BM25 + vector cosine fused by integer RRF
# --------------------------------------------------------------------------

def hy01_hybrid_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid search result fusion, the retrieval/RAG serving shape:
    the lexical top-10 (bm01's Okapi BM25 over the mid-df query terms)
    and the semantic top-10 (exact cosine of document embeddings —
    vec_id == doc_id — against the vec_id-0 query vector) merged by
    Reciprocal Rank Fusion. RRF is done in EXACT integers
    (``1e9 DIV (60 + rank)`` per list, missing -> 0), so the fusion is
    engine-portable bit-for-bit; only the two source rankings order by
    floats, and those are the already-certified bm01/ann01 orderings.
    Scale shape: each source list is its own certified top-k pipeline
    (broadcast query side, WindowGroupLimit/TakeOrdered — never a
    global shuffle), and the fusion joins two k-row relations: the
    candidate set is bounded at 2k rows BY CONSTRUCTION, so the final
    full-outer join + rank is a constant-size epilogue at any corpus
    size."""
    from pyp_etl_pipeline_spark.operators import similarity as _sim  # noqa: PLC0415

    text_list = _textan.bm25_rank(load_corpus(spark, sf, "documents")).select(
        "doc_id", F.col("rank").alias("text_rank")
    )

    # idempotent-ingest contract: collapse duplicated embedding rows,
    # and restrict to document ids with a SEMI join — an inner join
    # against a duplicated documents table would MULTIPLY embedding
    # rows and let one doc consume two top-10 slots (caught by the
    # --dupes gate run from the sf0.01 base; the twin's IN() was
    # already a semi join)
    emb = load_corpus_unique(spark, sf, "embeddings")
    doc_vecs = emb.join(
        load_table(spark, sf, "documents").select(F.col("doc_id").alias("vec_id")),
        "vec_id",
        "left_semi",
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.lit(-1).alias("query_id"), F.col("embedding").alias("query_vec")
    )
    vec_list = _sim.brute_force_topk(doc_vecs, q, k=10).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("vec_rank")
    )
    cand = (
        text_list.join(vec_list, "doc_id", "full")
        .select(
            "doc_id",
            F.col("text_rank").cast("long").alias("text_rank"),
            F.col("vec_rank").cast("long").alias("vec_rank"),
            (
                F.coalesce(F.expr("1000000000 DIV (60 + text_rank)"), F.lit(0))
                + F.coalesce(F.expr("1000000000 DIV (60 + vec_rank)"), F.lit(0))
            ).cast("long").alias("rrf_nano"),
        )
    )
    # candidate set is <= 20 rows by construction (union of two top-10
    # lists) — the single-partition window here is size-bounded, not a
    # scale hazard
    w = Window.orderBy(F.desc("rrf_nano"), F.asc("doc_id"))
    return (
        cand.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= 10)
    )


HY01_SQL = """
WITH bm AS ({BM01_BODY}),
text_list AS (SELECT doc_id, rank AS text_rank FROM bm),
dv AS (
  SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v
  FROM (SELECT DISTINCT * FROM embeddings) WHERE vec_id IN (SELECT doc_id FROM documents)
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM (SELECT DISTINCT * FROM embeddings) WHERE vec_id = 0),
scored AS (SELECT doc_id, list_cosine_similarity(qv, v) AS cos FROM dv, q),
vec_list AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS vec_rank
  FROM scored QUALIFY vec_rank <= 10
),
cand AS (
  SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
         CAST(t.text_rank AS BIGINT) AS text_rank,
         CAST(v.vec_rank AS BIGINT) AS vec_rank,
         CAST(coalesce(1000000000 // (60 + t.text_rank), 0)
              + coalesce(1000000000 // (60 + v.vec_rank), 0) AS BIGINT) AS rrf_nano
  FROM text_list t FULL JOIN vec_list v ON t.doc_id = v.doc_id
)
SELECT doc_id, text_rank, vec_rank, rrf_nano,
       CAST(row_number() OVER (ORDER BY rrf_nano DESC, doc_id ASC) AS BIGINT) AS fused_rank
FROM cand QUALIFY fused_rank <= 10
"""
HY01_SQL = HY01_SQL.replace("{BM01_BODY}", BM01_SQL)


# --------------------------------------------------------------------------
# ka01: k-anonymity via a global-recoding generalization ladder
# --------------------------------------------------------------------------

def ka01_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """K-anonymity enforcement by global recoding — the release-side
    privacy operator completing px01 (PII scrub) and px02
    (pseudonymization): the quasi-identifier pair (nation, segment) is
    generalized up a fixed ladder — L0 (nation, segment) -> L1
    (region, segment) -> L2 (region, *) -> L3 (*, *) — and the FIRST
    level whose smallest group reaches k=25 is released, with its
    group sizes. Levels are four aggs of the same broadcast-enriched
    scan unioned and tagged (one expand-style pass, no re-scan per
    level in spirit of GROUPING SETS); the selector is a 4-row
    aggregate joined back by broadcast — no driver collect decides
    anything. All set algebra + counts: partition-independent, and the
    twin replays the identical ladder."""
    k = 25
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf, "region").select("r_regionkey", "r_name")
    base = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "left")
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"], "left")
        .select(
            F.col("c_nationkey").cast("string").alias("nat"),
            F.coalesce(F.col("r_name"), F.lit("?")).alias("reg"),
            F.col("c_mktsegment").alias("seg"),
        )
    )
    levels = []
    for lvl, (q1, q2) in enumerate(
        [
            (F.col("nat"), F.col("seg")),
            (F.col("reg"), F.col("seg")),
            (F.col("reg"), F.lit("*")),
            (F.lit("*"), F.lit("*")),
        ]
    ):
        levels.append(
            base.select(q1.alias("qi_nation"), q2.alias("qi_segment"))
            .groupBy("qi_nation", "qi_segment")
            .agg(F.count("*").cast("long").alias("n"))
            .select(F.lit(lvl).cast("long").alias("level"), "qi_nation", "qi_segment", "n")
        )
    groups = levels[0]
    for g in levels[1:]:
        groups = groups.unionAll(g)
    stats = groups.groupBy("level").agg(F.min("n").alias("min_n"))
    sel = stats.filter(F.col("min_n") >= k).agg(
        F.coalesce(F.min("level"), F.lit(3)).cast("long").alias("level")
    )
    return groups.join(F.broadcast(sel), "level").select(
        "level", "qi_nation", "qi_segment", "n"
    )


KA01_SQL = """
WITH base AS (
  SELECT CAST(c_nationkey AS VARCHAR) AS nat,
         coalesce(r_name, '?') AS reg,
         c_mktsegment AS seg
  FROM customer
  LEFT JOIN nation ON c_nationkey = n_nationkey
  LEFT JOIN region ON n_regionkey = r_regionkey
),
groups AS (
  SELECT CAST(0 AS BIGINT) AS level, nat AS qi_nation, seg AS qi_segment,
         CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 2, 3
  UNION ALL
  SELECT 1, reg, seg, CAST(count(*) AS BIGINT) FROM base GROUP BY 2, 3
  UNION ALL
  SELECT 2, reg, '*', CAST(count(*) AS BIGINT) FROM base GROUP BY 2, 3
  UNION ALL
  SELECT 3, '*', '*', CAST(count(*) AS BIGINT) FROM base GROUP BY 2, 3
),
stats AS (SELECT level, min(n) AS min_n FROM groups GROUP BY 1),
sel AS (
  SELECT CAST(coalesce(min(level) FILTER (min_n >= 25), 3) AS BIGINT) AS level
  FROM stats
)
SELECT level, qi_nation, qi_segment, n
FROM groups JOIN sel USING (level)
"""


# --------------------------------------------------------------------------
# uv01: unpivot/melt — the inverse reshape of a09's pivot
# --------------------------------------------------------------------------

def uv01_unpivot_part_attrs(spark: SparkSession, sf: str) -> DataFrame:
    """Wide-to-long reshape (`DataFrame.unpivot`, a09-pivot's inverse):
    part's numeric attributes melted to (brand, attr, val) rows, then
    rolled up per (brand, attr) with the exact centi-unit sum. Unpivot
    compiles to a map-only Expand — each input row emits one row per
    value column, no shuffle until the rollup — so the reshape itself
    is free of data movement at any scale."""
    p = load_table(spark, sf, "part").select(
        "p_brand",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    long = p.unpivot(
        ids=["p_brand"],
        values=["p_size", "p_retailprice"],
        variableColumnName="attr",
        valueColumnName="val",
    )
    return (
        long.filter(F.col("val").isNotNull())
        .groupBy("p_brand", "attr")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.floor(F.col("val") * 100 + F.lit(0.5)).cast("long")).cast("long").alias("sum_centi"),
        )
    )


UV01_SQL = """
WITH long AS (
  UNPIVOT (SELECT p_brand, p_size::DOUBLE AS p_size, p_retailprice::DOUBLE AS p_retailprice FROM part)
  ON p_size, p_retailprice INTO NAME attr VALUE val
)
SELECT p_brand, attr, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(val * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_centi
FROM long
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# gs01: explicit GROUPING SETS with per-column grouping flags
# --------------------------------------------------------------------------

def gs01_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS ((status, priority), (status), ()) in ONE
    expand+hash-agg pass (`DataFrame.groupingSets`, completing the
    a07-rollup / a11-cube family), with per-column `grouping()` flags —
    the flags, not NULL-punning, distinguish super-aggregate rows from
    genuine NULL groups, so the result stays unambiguous on nullable
    group keys. Revenue is the order-independent scaled-long sum."""
    from pyp_etl_pipeline_spark.functions.aggregates import exact_sum  # noqa: PLC0415

    o = load_table(spark, sf, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
            F.count("*").alias("n_orders"),
            exact_sum("o_totalprice").alias("revenue"),
        )
    )


def _gs01_sql() -> str:
    return f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
       count(*) AS n_orders,
       {_ses("o_totalprice")} AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


GS01_SQL = _gs01_sql()


# --------------------------------------------------------------------------
# bfs01: multi-source BFS reach (iterative frontier expansion)
# --------------------------------------------------------------------------

def bfs01_reach_levels(spark: SparkSession, sf: str) -> DataFrame:
    """Min-hop distance (<= 3) from the nation-0 suppliers over the
    bidirectional customer-supplier interaction graph (same edge
    relation as gr01/dd04) — ``graph.bfs_levels``, the Pregel frontier
    shape. Reach analysis is the third canonical iterative graph
    workload next to PageRank and connected components: "everything
    within k links of these seeds" (contamination radius, influence
    cohorts). Exact set algebra, so the recursive-CTE twin replays it
    identically: the CTE's UNION-dedup walk with min(dist) IS
    breadth-first distance."""
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
    seeds = (
        load_table(spark, sf, "supplier")
        .filter(F.col("s_nationkey") == 0)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )
    dist = graph.bfs_levels(fwd.unionAll(rev), seeds, max_hops=3)
    return dist.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer")).otherwise(F.lit("supplier")).alias("kind"),
        F.expr("node DIV 2").alias("key"),
        F.col("dist").cast("long").alias("dist"),
    )


BFS01_SQL = """
WITH RECURSIVE
pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs
),
seeds AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_nationkey = 0),
walk(node, dist) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.node WHERE w.dist < 3
)
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       node // 2 AS key,
       CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY node
"""


# --------------------------------------------------------------------------
# hh01: guaranteed heavy hitters without shuffling the long tail
# --------------------------------------------------------------------------

def hh01_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """All corpus tokens with frequency >= n/200 (``sketch.heavy_hitters``):
    a map-only vectorized candidate pass (per-batch local heavy hitters
    are a pigeonhole-guaranteed superset of the global ones), then an
    exact recount restricted to the broadcast candidate set — the
    shuffle carries candidate keys only, never the billion-key tail.
    Complements tx09 (exact top-k by rank) with the threshold-guarantee
    form ("everything above 0.5%"), whose output size is data-driven.
    The final exact-count filter makes the result partitioning-
    independent, so the plain GROUP BY .. HAVING twin is exact."""
    from pyp_etl_pipeline_spark.operators import dedup as _dd  # noqa: PLC0415
    from pyp_etl_pipeline_spark.operators import sketch as _sk  # noqa: PLC0415

    d = load_corpus(spark, sf, "documents")
    toks = d.select(
        F.explode(F.split(_dd.normalized_text("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return _sk.heavy_hitters(toks, col="tok", k=200)


HH01_SQL = f"""
WITH t AS (
  SELECT tok
  FROM (SELECT unnest(string_split({_snt("text")}, ' ')) AS tok FROM documents)
  WHERE tok <> ''
),
n AS (SELECT count(*) AS total FROM t)
SELECT tok, CAST(count(*) AS BIGINT) AS cnt
FROM t CROSS JOIN n
GROUP BY tok, total
HAVING count(*) * 200 >= total
"""


# --------------------------------------------------------------------------
# sq01: session path transitions (event-sequence mining)
# --------------------------------------------------------------------------

def sq01_session_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Event-type transition matrix: per user, consecutive event pairs
    (by event time, event_id tiebreak) no more than 30 min apart,
    counted per (src, dst) pair with an integer-micro share of all
    transitions. The Markov-chain view of user paths — what w03's
    sessionizer feeds into when the question is "where do users go
    NEXT". One lag window partitioned by user (scales with users, no
    single-partition window), then a map-side-combined pair count.
    Rows without a timestamp are excluded up front: the two engines
    disagree on NULL-first vs NULL-last ordering inside the lag
    window, so they must not participate in the sequence."""
    e = load_table(spark, sf, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("long").alias("ep"),
    ).filter(F.col("ep").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    t = (
        e.select(
            "event_type",
            "ep",
            F.lag("event_type").over(w).alias("src_event"),
            F.lag("ep").over(w).alias("prev_ep"),
        )
        .filter(F.col("prev_ep").isNotNull() & (F.col("ep") - F.col("prev_ep") <= 1800))
        .select("src_event", F.col("event_type").alias("dst_event"))
    )
    agg = t.groupBy("src_event", "dst_event").agg(F.count("*").cast("long").alias("n_trans"))
    total = agg.agg(F.sum("n_trans").alias("__total"))
    return agg.crossJoin(F.broadcast(total)).select(
        "src_event",
        "dst_event",
        "n_trans",
        F.expr("(n_trans * 1000000) DIV __total").cast("long").alias("share_micro"),
    )


SQ01_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events WHERE ts IS NOT NULL
),
t AS (
  SELECT lag(event_type) OVER w AS src_event,
         lag(ep) OVER w AS prev_ep,
         event_type AS dst_event, ep
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)
),
agg AS (
  SELECT src_event, dst_event, CAST(count(*) AS BIGINT) AS n_trans
  FROM t WHERE prev_ep IS NOT NULL AND ep - prev_ep <= 1800
  GROUP BY 1, 2
),
n AS (SELECT CAST(sum(n_trans) AS BIGINT) AS total FROM agg)
SELECT src_event, dst_event, n_trans,
       CAST((n_trans * 1000000) // total AS BIGINT) AS share_micro
FROM agg CROSS JOIN n
"""


# --------------------------------------------------------------------------
# hn01: hard-negative mining for contrastive training
# --------------------------------------------------------------------------

def hn01_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Triplet mining over the labeled embedding corpus: per anchor
    (every 100th vector), the hardest same-label positive and the 3
    hardest different-label negatives by cosine — the batch that feeds
    a contrastive fine-tune (see operators/similarity.py:
    hard_negative_mining for the plan shape and the ANN-shortlist
    production variant)."""
    from pyp_etl_pipeline_spark.operators import similarity as _sim  # noqa: PLC0415

    emb = load_corpus(spark, sf, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    return _sim.hard_negative_mining(emb, anchors, k_neg=3)


HN01_SQL = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.qid AS query_id, q.qlabel, e.vec_id AS neighbor_id, e.label,
         list_cosine_similarity(qv, e.v) AS cos
  FROM q JOIN e ON e.vec_id <> q.qid
),
neg AS (
  SELECT query_id, neighbor_id, 'neg' AS role,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS match_rank,
         round(cos, 6) AS cosine
  FROM scored WHERE label IS DISTINCT FROM qlabel AND cos IS NOT NULL
  QUALIFY match_rank <= 3
),
pos AS (
  SELECT query_id, neighbor_id, 'pos' AS role,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos ASC, neighbor_id ASC) AS BIGINT) AS match_rank,
         round(cos, 6) AS cosine
  FROM scored WHERE label IS NOT DISTINCT FROM qlabel AND cos IS NOT NULL
  QUALIFY match_rank <= 1
)
SELECT * FROM neg UNION ALL SELECT * FROM pos
"""


# --------------------------------------------------------------------------
# ev03: lexical-vs-semantic rank agreement (the retrieval-eval sibling
# of hy01's fusion)
# --------------------------------------------------------------------------

def ev03_rank_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """How much do the two retrieval channels AGREE? Overlap@10,
    Jaccard@10 (micro) and the Spearman footrule (sum of |rank-rank|
    over the intersection) between bm01's BM25 top-10 and the exact
    cosine top-10 — the diagnostic every hybrid-retrieval deployment
    reads before trusting RRF weights (low overlap = channels are
    complementary; high footrule on the overlap = they disagree about
    order). Inputs are the two already-certified top-k pipelines from
    hy01; the epilogue is a full join of two 10-row relations plus one
    single-row aggregate — constant-size at any corpus scale. All
    metrics exact integers."""
    from pyp_etl_pipeline_spark.operators import similarity as _sim  # noqa: PLC0415

    text_list = _textan.bm25_rank(load_corpus(spark, sf, "documents")).select(
        "doc_id", F.col("rank").cast("long").alias("text_rank")
    )

    # idempotent-ingest contract: collapse duplicated embedding rows,
    # and restrict to document ids with a SEMI join — an inner join
    # against a duplicated documents table would MULTIPLY embedding
    # rows and let one doc consume two top-10 slots (caught by the
    # --dupes gate run from the sf0.01 base; the twin's IN() was
    # already a semi join)
    emb = load_corpus_unique(spark, sf, "embeddings")
    doc_vecs = emb.join(
        load_table(spark, sf, "documents").select(F.col("doc_id").alias("vec_id")),
        "vec_id",
        "left_semi",
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.lit(-1).alias("query_id"), F.col("embedding").alias("query_vec")
    )
    vec_list = _sim.brute_force_topk(doc_vecs, q, k=10).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").cast("long").alias("vec_rank")
    )
    both = F.col("text_rank").isNotNull() & F.col("vec_rank").isNotNull()
    agg = (
        text_list.join(vec_list, "doc_id", "full")
        .agg(
            F.count("text_rank").cast("long").alias("n_text"),
            F.count("vec_rank").cast("long").alias("n_vec"),
            F.sum(F.when(both, 1).otherwise(0)).cast("long").alias("n_overlap"),
            F.coalesce(
                F.sum(F.when(both, F.abs(F.col("text_rank") - F.col("vec_rank")))),
                F.lit(0),
            ).cast("long").alias("footrule"),
        )
    )
    return agg.select(
        "n_text",
        "n_vec",
        "n_overlap",
        F.expr(
            "CASE WHEN n_text + n_vec - n_overlap > 0"
            " THEN n_overlap * CAST(1000000 AS BIGINT) DIV (n_text + n_vec - n_overlap) END"
        ).alias("jaccard_micro"),
        "footrule",
    )


EV03_SQL = """
WITH bm AS ({BM01_BODY}),
text_list AS (SELECT doc_id, CAST(rank AS BIGINT) AS text_rank FROM bm),
dv AS (
  SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v
  FROM (SELECT DISTINCT * FROM embeddings) WHERE vec_id IN (SELECT doc_id FROM documents)
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM (SELECT DISTINCT * FROM embeddings) WHERE vec_id = 0),
scored AS (SELECT doc_id, list_cosine_similarity(qv, v) AS cos FROM dv, q),
vec_list AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS vec_rank
  FROM scored QUALIFY vec_rank <= 10
),
j AS (
  SELECT t.text_rank, v.vec_rank
  FROM text_list t FULL JOIN vec_list v ON t.doc_id = v.doc_id
),
a AS (
  SELECT CAST(count(text_rank) AS BIGINT) AS n_text,
         CAST(count(vec_rank) AS BIGINT) AS n_vec,
         CAST(coalesce(sum(CASE WHEN text_rank IS NOT NULL AND vec_rank IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_overlap,
         CAST(coalesce(sum(CASE WHEN text_rank IS NOT NULL AND vec_rank IS NOT NULL THEN abs(text_rank - vec_rank) END), 0) AS BIGINT) AS footrule
  FROM j
)
SELECT n_text, n_vec, n_overlap,
       CASE WHEN n_text + n_vec - n_overlap > 0
            THEN CAST(n_overlap * 1000000 // (n_text + n_vec - n_overlap) AS BIGINT) END AS jaccard_micro,
       footrule
FROM a
"""
EV03_SQL = EV03_SQL.replace("{BM01_BODY}", BM01_SQL)


# --------------------------------------------------------------------------
# cu01: curriculum-learning schedule
# --------------------------------------------------------------------------

def cu01_curriculum_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """Easy-to-hard curriculum assignment over the document corpus:
    difficulty = mean word length in micro, phase from a static
    threshold ladder, within-phase order from a keyed hash — entirely
    map-only (see operators/sampling.py: curriculum_schedule for why
    NOT ntile)."""
    from pyp_etl_pipeline_spark.operators import sampling as _sampling  # noqa: PLC0415

    docs = load_table(spark, sf, "documents").filter(F.col("text").isNotNull())
    diff = F.floor(_textan.mean_word_length(F.col("text")) * 1000000 + F.lit(0.5))
    return _sampling.curriculum_schedule(docs, diff)


def _cu01_sql() -> str:
    from pyp_etl_pipeline_spark.operators.sampling import sql_hash_bucket  # noqa: PLC0415

    toks = "list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')"
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents WHERE text IS NOT NULL),
d AS (
  SELECT doc_id,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE coalesce(list_sum(list_transform(toks, w -> length(w))), 0) / len(toks)
         END AS mwl
  FROM t
),
m AS (SELECT doc_id, CAST(floor(mwl * 1000000 + 0.5) AS BIGINT) AS difficulty_micro FROM d)
SELECT doc_id, difficulty_micro,
       CAST((CASE WHEN difficulty_micro >= 4000000 THEN 1 ELSE 0 END)
            + (CASE WHEN difficulty_micro >= 5000000 THEN 1 ELSE 0 END)
            + (CASE WHEN difficulty_micro >= 6000000 THEN 1 ELSE 0 END) AS BIGINT) AS phase,
       CAST({sql_hash_bucket("doc_id", "curriculum-v1")} AS BIGINT) AS order_key
FROM m
"""


CU01_SQL = _cu01_sql()


# --------------------------------------------------------------------------
# dp01: privacy-budgeted noisy count release
# --------------------------------------------------------------------------

def dp01_noisy_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(lang, source) document counts perturbed by deterministic
    bounded noise before release — the publication end of the privacy
    family (px01 scrub -> px02 pseudonymize -> ka01 k-anonymize -> dp01
    noisy release). See functions/masking.py: noisy_group_counts."""
    from pyp_etl_pipeline_spark.functions import masking as _masking  # noqa: PLC0415

    docs = load_table(spark, sf, "documents")
    return _masking.noisy_group_counts(docs, ("lang", "source"), noise_bound=20)


DP01_SQL = """
WITH g AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
nz AS (
  SELECT lang, source, n,
         (('0x' || substring(md5(
             (CASE WHEN lang IS NULL THEN 'N' ELSE md5(lang::VARCHAR) END)
             || (CASE WHEN source IS NULL THEN 'N' ELSE md5(source::VARCHAR) END)
             || 'dp-v1'), 1, 7))::BIGINT % 41) - 20 AS noise
  FROM g
)
SELECT lang, source, CAST(greatest(0, n + noise) AS BIGINT) AS noisy_count FROM nz
"""


# --------------------------------------------------------------------------
# mk01: MLM masking plan
# --------------------------------------------------------------------------

def mk01_mlm_masking_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 15% token-masking plan for MLM pretraining over the
    document corpus, with the first-10-token masked preview certifying
    the substitution (see operators/textan.py: mlm_masking_plan)."""
    docs = load_corpus(spark, sf, "documents")
    return _textan.mlm_masking_plan(docs)


def _mk01_sql(mask_pct: int = 15, salt: str = "mlm-v1", preview_n: int = 10) -> str:
    toks = "list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')"
    bucket = (
        "(('0x' || substring(md5(doc_id::VARCHAR || ':' || i::VARCHAR || '" + salt + "'), 1, 7))::BIGINT % 100)"
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents WHERE text IS NOT NULL),
m AS (
  SELECT doc_id, toks,
         list_filter(generate_series(1, len(toks)), i -> {bucket} < {mask_pct}) AS mpos
  FROM t
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(mpos) AS BIGINT) AS n_masked,
       CAST(mpos[1] AS BIGINT) AS first_masked_pos,
       coalesce(array_to_string(
         list_transform(generate_series(1, least(len(toks), {preview_n})),
                        i -> CASE WHEN {bucket} < {mask_pct} THEN '[MASK]' ELSE toks[i] END),
         ' '), '') AS masked_preview
FROM m
"""


MK01_SQL = _mk01_sql()


# --------------------------------------------------------------------------
# dc03: semantic (embedding-space) decontamination
# --------------------------------------------------------------------------

def dc03_semantic_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic test-set leakage guard — dc01's n-gram decontamination
    lifted into embedding space (catches paraphrased eval contamination
    that shares no 3-gram): every 100th vector plays the eval set, and
    every training vector reports how many eval vectors sit within
    cosine >= 0.25, its max eval cosine, and the resulting
    ``contaminated`` flag. Eval side broadcasts (dimension-sized) into
    one map-side scoring pass over the training corpus — the corpus
    never shuffles, same contract as dc01. A production run swaps the
    brute scoring for the IVF-PQ shortlist (ann06/ann07) and keeps this
    exact form as its certified ground truth."""
    from pyp_etl_pipeline_spark.operators import similarity as _sim  # noqa: PLC0415

    emb = load_corpus(spark, sf, "embeddings").select(
        "vec_id", _sim._as_double("embedding").alias("__v")
    ).filter(F.col("__v").isNotNull())
    ev = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("eid"), F.col("__v").alias("__ev")
    )
    tr = emb.filter(F.col("vec_id") % 100 != 0)
    scored = tr.join(F.broadcast(ev), F.col("vec_id") != F.col("eid")).select(
        "vec_id", _sim.cosine(F.col("__v"), F.col("__ev")).alias("cos")
    )
    agg = scored.groupBy("vec_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("cos") >= 0.25, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_eval_hits"),
        F.max("cos").alias("__mc"),
    )
    return agg.select(
        "vec_id",
        "n_eval_hits",
        F.round("__mc", 6).alias("max_cos"),
        (F.col("n_eval_hits") > 0).alias("contaminated"),
    )


DC03_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL
),
ev AS (SELECT vec_id AS eid, v AS evv FROM e WHERE vec_id % 100 = 0),
tr AS (SELECT vec_id, v FROM e WHERE vec_id % 100 <> 0),
sc AS (
  SELECT tr.vec_id, list_cosine_similarity(tr.v, ev.evv) AS cos
  FROM tr JOIN ev ON tr.vec_id <> ev.eid
),
a AS (
  SELECT vec_id,
         CAST(coalesce(sum(CASE WHEN cos >= 0.25 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_eval_hits,
         max(cos) AS mc
  FROM sc GROUP BY 1
)
SELECT vec_id, n_eval_hits, round(mc, 6) AS max_cos, n_eval_hits > 0 AS contaminated
FROM a
"""


# --------------------------------------------------------------------------
# px03: PII density report by source
# --------------------------------------------------------------------------

def px03_pii_density(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source PII exposure report — the compliance dashboard number
    a corpus release signs off on: document counts, per-class PII hit
    totals (on px01's deterministically injected text, so the report is
    hash-certifiable) and hits-per-document density in micro. Composes
    px01's certified per-doc scrub/count output with one groupBy over
    the handful of sources."""
    d = load_table(spark, sf, "documents").select("doc_id", "source")
    per_doc = px01_pii_scrub(spark, sf).join(d, "doc_id")
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.coalesce(F.sum(f"n_{n}"), F.lit(0)).cast("long").alias(f"n_{n}")
            for n in ("email", "phone", "ipv4", "ssn")
        ],
    )
    return agg.select(
        "source",
        "n_docs",
        "n_email",
        "n_phone",
        "n_ipv4",
        "n_ssn",
        F.expr(
            "(n_email + n_phone + n_ipv4 + n_ssn) * CAST(1000000 AS BIGINT) DIV n_docs"
        ).alias("density_micro"),
    )


PX03_SQL = f"""
WITH p AS ({PX01_SQL}),
j AS (SELECT d.source, p.* FROM p JOIN documents d USING (doc_id)),
a AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(n_email), 0) AS BIGINT) AS n_email,
         CAST(coalesce(sum(n_phone), 0) AS BIGINT) AS n_phone,
         CAST(coalesce(sum(n_ipv4), 0) AS BIGINT) AS n_ipv4,
         CAST(coalesce(sum(n_ssn), 0) AS BIGINT) AS n_ssn
  FROM j GROUP BY 1
)
SELECT source, n_docs, n_email, n_phone, n_ipv4, n_ssn,
       CAST((n_email + n_phone + n_ipv4 + n_ssn) * 1000000 // n_docs AS BIGINT) AS density_micro
FROM a
"""


# --------------------------------------------------------------------------
# dd08: dedup savings report
# --------------------------------------------------------------------------

def dd08_dedup_savings(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-report number every dedup run publishes: cluster-size
    histogram of the near-dup components (dd02 pairs -> dd04 connected
    components) plus, on every row, the global corpus size, total
    removable duplicates (size-1 per cluster) and the dedup ratio in
    micro. One groupBy over cluster labels, one over sizes, one
    single-row global agg broadcast back — the heavy lifting is the
    already-certified pair+CC pipeline."""
    from pyp_etl_pipeline_spark.operators import dedup as _dedup  # noqa: PLC0415

    corpus = load_corpus(spark, sf, "documents")
    pairs = _dedup.shingle_pairs_jaccard(corpus, threshold=0.5)
    clusters = _dedup.dup_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    totals = sizes.agg(
        F.coalesce(F.sum(F.col("cluster_size") - 1), F.lit(0)).cast("long").alias("n_removable_total"),
    )
    corpus_docs = corpus.agg(F.count(F.lit(1)).cast("long").alias("corpus_docs"))
    return (
        hist.join(F.broadcast(totals))
        .join(F.broadcast(corpus_docs))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("long").alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).cast("long").alias("n_removable"),
            "n_removable_total",
            "corpus_docs",
            F.expr("n_removable_total * CAST(1000000 AS BIGINT) DIV corpus_docs").alias("dedup_ratio_micro"),
        )
    )


def _dd08_sql(dd04_body: str) -> str:
    return f"""
WITH c AS ({dd04_body}),
sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM c GROUP BY 1),
hist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters FROM sizes GROUP BY 1),
tot AS (SELECT CAST(coalesce(sum(cluster_size - 1), 0) AS BIGINT) AS n_removable_total FROM sizes),
cd AS (SELECT CAST(count(*) AS BIGINT) AS corpus_docs FROM documents)
SELECT cluster_size, n_clusters,
       CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * n_clusters AS BIGINT) AS n_removable,
       n_removable_total, corpus_docs,
       CAST(n_removable_total * 1000000 // corpus_docs AS BIGINT) AS dedup_ratio_micro
FROM hist CROSS JOIN tot CROSS JOIN cd
"""


# --------------------------------------------------------------------------
# ev04: quality-gate calibration / lift table
# --------------------------------------------------------------------------

def ev04_gate_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Calibration/lift table of a cheap ranking signal (word count,
    bucketed in fixed 50-word bins) against the expensive gate it
    proxies for (tx07's full Gopher conjunction): per bin, document
    count, gate-pass count and pass rate in micro. The table every
    cascade filter is tuned from — if bin pass rates are monotone, the
    cheap signal can pre-screen and the expensive gate runs on a
    fraction of the corpus. Map-only signal pass + one
    partial-aggregated groupBy over <=10 bins; exact integers."""
    g = _textan.gopher_quality_flags(load_corpus(spark, sf, "documents"))
    binned = g.select(
        F.least(F.lit(9).cast("long"), F.expr("n_words DIV 50")).alias("bin"),
        # NULL gopher_pass (null-injected text) counts as NOT passing in
        # both engines — when().otherwise(0), never cast(bool as int)
        F.when(F.col("gopher_pass"), 1).otherwise(0).alias("p"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("p").cast("long").alias("n_pass"),
        )
        .select(
            "bin",
            (F.col("bin") * 50).cast("long").alias("lo_words"),
            "n_docs",
            "n_pass",
            F.expr("n_pass * CAST(1000000 AS BIGINT) DIV n_docs").alias("pass_rate_micro"),
        )
    )


def _ev04_sql(tx07_body: str) -> str:
    return f"""
WITH g AS ({tx07_body}),
b AS (
  SELECT least(9, n_words // 50) AS bin,
         CASE WHEN gopher_pass THEN 1 ELSE 0 END AS p
  FROM g
),
a AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(p) AS BIGINT) AS n_pass
  FROM b GROUP BY 1
)
SELECT CAST(bin AS BIGINT) AS bin, CAST(bin * 50 AS BIGINT) AS lo_words, n_docs, n_pass,
       CAST(n_pass * 1000000 // n_docs AS BIGINT) AS pass_rate_micro
FROM a
"""


# --------------------------------------------------------------------------
# ev05: inter-gate agreement (Cohen's kappa)
# --------------------------------------------------------------------------

def ev05_gate_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's kappa between two independent quality gates — tx07's
    fixed-threshold Gopher conjunction and tx11's corpus-relative
    bottom-quartile token gate. Kappa is THE chance-corrected agreement
    number annotation pipelines report before trusting a cheaper
    'annotator'; here both annotators are deterministic rules, so the
    whole 2x2 contingency table and the kappa itself are
    hash-certified. po/pe in nano, kappa in micro, all integer DIV
    (both engines truncate integer division toward zero — verified).
    Shape: two map-only scoring passes joined on doc_id, one exact
    percentile aggregate (tx11's), one single-row contingency agg."""
    docs = load_corpus(spark, sf, "documents")
    g = _textan.gopher_quality_flags(docs).select(
        F.col("id").alias("doc_id"), "gopher_pass"
    )
    scored = docs.select("doc_id", _textan.token_count("text").alias("n_tokens"))
    thr = scored.agg(F.percentile("n_tokens", F.lit(0.25)).alias("thr"))
    k = scored.join(F.broadcast(thr)).select(
        "doc_id", (F.col("n_tokens") >= F.col("thr")).alias("keep")
    )
    cont = (
        g.join(k, "doc_id")
        .agg(
            F.sum(F.when(F.col("gopher_pass") & F.col("keep"), 1).otherwise(0)).cast("long").alias("n_both"),
            F.sum(F.when(F.col("gopher_pass") & ~F.col("keep"), 1).otherwise(0)).cast("long").alias("n_gopher_only"),
            F.sum(F.when(~F.col("gopher_pass") & F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep_only"),
            F.sum(F.when(~F.col("gopher_pass") & ~F.col("keep"), 1).otherwise(0)).cast("long").alias("n_neither"),
        )
    )
    m = cont.select(
        "*",
        (F.col("n_both") + F.col("n_gopher_only") + F.col("n_keep_only") + F.col("n_neither")).alias("n"),
    ).select(
        "n", "n_both", "n_gopher_only", "n_keep_only", "n_neither",
        F.expr("(n_both + n_neither) * CAST(1000000000 AS BIGINT) DIV n").alias("po_nano"),
        F.expr(
            "((n_both + n_gopher_only) * (n_both + n_keep_only)"
            " + (n_keep_only + n_neither) * (n_gopher_only + n_neither))"
            " * CAST(1000000000 AS BIGINT) DIV (n * n)"
        ).alias("pe_nano"),
    )
    return m.select(
        "*",
        F.expr(
            "CASE WHEN 1000000000 - pe_nano > 0"
            " THEN (po_nano - pe_nano) * CAST(1000000 AS BIGINT) DIV (1000000000 - pe_nano) END"
        ).alias("kappa_micro"),
    )


def _ev05_sql(tx07_body: str, tx11_body: str) -> str:
    return f"""
WITH g AS ({tx07_body}),
k AS ({tx11_body}),
j AS (
  SELECT g.gopher_pass, k.keep FROM g JOIN k ON g.doc_id = k.doc_id
),
cont AS (
  SELECT CAST(coalesce(sum(CASE WHEN gopher_pass AND keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_both,
         CAST(coalesce(sum(CASE WHEN gopher_pass AND NOT keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_gopher_only,
         CAST(coalesce(sum(CASE WHEN NOT gopher_pass AND keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_keep_only,
         CAST(coalesce(sum(CASE WHEN NOT gopher_pass AND NOT keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_neither
  FROM j
),
m AS (
  SELECT n_both + n_gopher_only + n_keep_only + n_neither AS n, *
  FROM cont
),
p AS (
  SELECT CAST(n AS BIGINT) AS n, n_both, n_gopher_only, n_keep_only, n_neither,
         CAST((n_both + n_neither) * 1000000000 // n AS BIGINT) AS po_nano,
         CAST(((n_both + n_gopher_only) * (n_both + n_keep_only)
               + (n_keep_only + n_neither) * (n_gopher_only + n_neither))
              * 1000000000 // (n * n) AS BIGINT) AS pe_nano
  FROM m
)
SELECT n, n_both, n_gopher_only, n_keep_only, n_neither, po_nano, pe_nano,
       CASE WHEN 1000000000 - pe_nano > 0
            THEN CAST((po_nano - pe_nano) * 1000000 // (1000000000 - pe_nano) AS BIGINT) END AS kappa_micro
FROM p
"""


# --------------------------------------------------------------------------
# tx17: URL canonicalization
# --------------------------------------------------------------------------

def tx17_url_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization — the first step of any web-corpus dedup or
    per-site accounting: lowercase host sans www, path split into
    segments, tracking params (utm_*) stripped, surviving params
    SORTED, fragment dropped. URLs synthesized from (source, lang,
    doc_id) exactly the way f03 synthesizes emails; the whole transform
    is regex + array algebra, map-only, and both engines run the
    LITERAL same regexes. NULL source/lang propagates to a NULL url and
    NULL outputs (|| / concat are null-propagating in both engines —
    DuckDB's concat() is not, and is deliberately avoided in the
    twin)."""
    d = load_table(spark, sf, "documents")
    url = F.concat(
        F.lit("https://www."),
        F.col("source"),
        F.lit(".Example/"),
        F.col("lang"),
        F.lit("/doc-"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&id="),
                F.col("doc_id").cast("string"),
                F.lit("&ref=rss#frag"),
            ),
        ).otherwise(F.concat(F.lit("?id="), F.col("doc_id").cast("string"))),
    )
    staged = d.select("doc_id", url.alias("__url"))
    host = F.lower(F.regexp_extract("__url", r"^https?://(?:www\.)?([^/?#]+)", 1))
    path = F.regexp_extract("__url", r"^[a-zA-Z]+://[^/?#]+([^?#]*)", 1)
    query = F.regexp_extract("__url", r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != F.lit("")) & ~p.startswith("utm_"),
        )
    )
    canon_query = F.array_join(params, "&")
    out = staged.select(
        "doc_id",
        host.alias("host"),
        F.size(F.filter(F.split(path, "/"), lambda x: x != F.lit(""))).cast("long").alias("path_depth"),
        F.concat(
            host,
            path,
            F.when(canon_query != "", F.concat(F.lit("?"), canon_query)).otherwise(F.lit("")),
        ).alias("canon_url"),
    )
    # NULL url -> regexp_extract NULL -> size(NULL) is -1 in non-ANSI
    # Spark but NULL in DuckDB: normalize explicitly
    return out.withColumn(
        "path_depth",
        F.when(F.col("canon_url").isNull(), F.lit(None).cast("long")).otherwise(F.col("path_depth")),
    )


TX17_SQL = r"""
WITH u AS (
  SELECT doc_id,
         'https://www.' || source || '.Example/' || lang || '/doc-' || doc_id::VARCHAR ||
         CASE WHEN doc_id % 2 = 0
              THEN '?utm_source=feed&id=' || doc_id::VARCHAR || '&ref=rss#frag'
              ELSE '?id=' || doc_id::VARCHAR END AS url
  FROM documents
),
parts AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^https?://(?:www\.)?([^/?#]+)', 1)) AS host,
         regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1) AS path,
         regexp_extract(url, '\?([^#]*)', 1) AS query
  FROM u
),
canon AS (
  SELECT doc_id, host, path,
         array_to_string(list_sort(list_filter(string_split(query, '&'),
                                               p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') AS cq
  FROM parts
)
SELECT doc_id, host,
       CAST(len(list_filter(string_split(path, '/'), x -> x <> '')) AS BIGINT) AS path_depth,
       host || path || (CASE WHEN coalesce(cq, '') <> '' THEN '?' || cq ELSE '' END) AS canon_url
FROM canon
"""


# --------------------------------------------------------------------------
# cf01: cascade filtering (cheap screen -> expensive gate)
# --------------------------------------------------------------------------

def cf01_cascade_filter(spark: SparkSession, sf: str) -> DataFrame:
    """The cascade pattern ev04/ev06 exist to justify, run end-to-end:
    a cheap map-only screen (token count >= 50 — one split+size per
    row) eliminates documents BEFORE the expensive gate (the full
    Gopher conjunction: three regex passes + stopword scan) runs on the
    survivors. The output certifies both the ECONOMICS (how much gate
    work the screen saved, in micro) and the CORRECTNESS (cascade pass
    count == full-gate pass count, provable here because the screen is
    implied by the gate's word-count rule — the defining property of a
    sound cascade). At 100 TB this is the difference between three
    regex passes over every byte and three regex passes over the
    surviving fraction; both stages stay map-only and pipeline into one
    scan of the survivors."""
    d = load_corpus(spark, sf, "documents")
    screened = d.select(
        "doc_id", "text", (_textan.token_count("text") >= 50).alias("__keep")
    )
    survivors = screened.filter(F.col("__keep"))
    gated = _textan.gopher_quality_flags(survivors.select("doc_id", "text"))
    counts = screened.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.col("__keep"), 0).otherwise(1)).cast("long").alias("n_screened_out"),
    )
    gate_counts = gated.agg(
        F.count(F.lit(1)).cast("long").alias("n_gate_evaluated"),
        F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0)).cast("long").alias("n_pass"),
    )
    return (
        counts.join(F.broadcast(gate_counts))
        .select(
            "n_total",
            "n_screened_out",
            "n_gate_evaluated",
            "n_pass",
            F.expr(
                "CASE WHEN n_total > 0"
                " THEN n_screened_out * CAST(1000000 AS BIGINT) DIV n_total END"
            ).alias("gate_work_saved_micro"),
            F.expr(
                "CASE WHEN n_gate_evaluated > 0"
                " THEN n_pass * CAST(1000000 AS BIGINT) DIV n_gate_evaluated END"
            ).alias("survivor_pass_micro"),
        )
    )


def _cf01_sql(tx07_body: str) -> str:
    toks = "list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')"
    # the gate body runs over the SCREENED table (name shadowing via CTE)
    gate_on_survivors = tx07_body.replace("FROM documents", "FROM survivors")
    return f"""
WITH screened AS (
  SELECT doc_id, text, coalesce(len({toks}) >= 50, FALSE) AS keep_ FROM documents
),
survivors AS (SELECT doc_id, text FROM screened WHERE keep_),
g AS ({gate_on_survivors}),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(coalesce(sum(CASE WHEN keep_ THEN 0 ELSE 1 END), 0) AS BIGINT) AS n_screened_out
  FROM screened
),
gc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_gate_evaluated,
         CAST(coalesce(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pass
  FROM g
)
SELECT n_total, n_screened_out, n_gate_evaluated, n_pass,
       CASE WHEN n_total > 0 THEN CAST(n_screened_out * 1000000 // n_total AS BIGINT) END AS gate_work_saved_micro,
       CASE WHEN n_gate_evaluated > 0 THEN CAST(n_pass * 1000000 // n_gate_evaluated AS BIGINT) END AS survivor_pass_micro
FROM c CROSS JOIN gc
"""


# --------------------------------------------------------------------------
# ev06: ROC-AUC of a ranking signal vs a gate label, exact integers
# --------------------------------------------------------------------------

def ev06_quality_auc(spark: SparkSession, sf: str) -> DataFrame:
    """ROC-AUC of the cheap ranking signal (word count) against the
    expensive gate it screens for (tx07's Gopher conjunction) — ev04's
    calibration table collapsed to the single number model-based
    quality filters are compared by. Computed EXACTLY via the
    Mann-Whitney rank-sum with midrank tie handling, kept integer
    throughout: per distinct score, positives contribute
    ``pos_cnt * (2*cum_below + cnt + 1)`` (= twice their average
    rank), so 2U = Σ − npos(npos+1) and AUC_micro = 2U·1e6 DIV
    (2·npos·nneg). The cumulative window runs over DISTINCT SCORE
    VALUES (bounded cardinality — word counts), not rows; at unbounded
    score cardinality swap in prefix.grouped_prefix_sum, same algebra."""
    g = _textan.gopher_quality_flags(load_corpus(spark, sf, "documents"))
    # a NULL score (null text) is unrankable — and the two engines order
    # NULLs differently in an ASC window, so it must not participate
    s = g.filter(F.col("n_words").isNotNull()).select(
        F.col("n_words").alias("score"),
        F.when(F.col("gopher_pass"), 1).otherwise(0).alias("pos"),
    )
    by = s.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("pos_cnt"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    by = by.withColumn(
        "cum_below", F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long")
    )
    agg = by.agg(
        F.coalesce(
            F.sum(F.col("pos_cnt") * (2 * F.col("cum_below") + F.col("cnt") + 1)), F.lit(0)
        ).cast("long").alias("rank2_sum"),
        F.coalesce(F.sum("pos_cnt"), F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n"),
    )
    return agg.select(
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).cast("long").alias("n_neg"),
        F.expr(
            "CASE WHEN n_pos > 0 AND n - n_pos > 0"
            " THEN (rank2_sum - n_pos * (n_pos + 1)) * CAST(1000000 AS BIGINT)"
            " DIV (2 * n_pos * (n - n_pos)) END"
        ).alias("auc_micro"),
    )


def _ev06_sql(tx07_body: str) -> str:
    return f"""
WITH g AS ({tx07_body}),
s AS (
  SELECT n_words AS score, CASE WHEN gopher_pass THEN 1 ELSE 0 END AS pos
  FROM g WHERE n_words IS NOT NULL
),
by_score AS (
  SELECT score, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(pos) AS BIGINT) AS pos_cnt
  FROM s GROUP BY 1
),
cum AS (
  SELECT score, cnt, pos_cnt,
         CAST(coalesce(sum(cnt) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_below
  FROM by_score
),
a AS (
  SELECT CAST(coalesce(sum(pos_cnt * (2 * cum_below + cnt + 1)), 0) AS BIGINT) AS rank2_sum,
         CAST(coalesce(sum(pos_cnt), 0) AS BIGINT) AS n_pos,
         CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n
  FROM cum
)
SELECT n, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg,
       CASE WHEN n_pos > 0 AND n - n_pos > 0
            THEN CAST((rank2_sum - n_pos * (n_pos + 1)) * 1000000 // (2 * n_pos * (n - n_pos)) AS BIGINT) END AS auc_micro
FROM a
"""


# --------------------------------------------------------------------------
# q07: promo revenue share by month (TPC-H Q14 shape)
# --------------------------------------------------------------------------

def q07_promo_revenue_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 generalized to a monthly series: the share of 1996
    revenue carried by ECONOMY-type parts, per ship month. The classic
    'joins drive one ratio aggregate' shape: lineitem scan with the
    date filter PUSHED to parquet, part dimension BROADCAST, revenue in
    exact integer micro (the order-independent exact_sum contract), and
    the share as integer micro division — no double sum anywhere, so
    the result is partition-order independent and dtype-exact."""
    from pyp_etl_pipeline_spark.functions.aggregates import micro_col  # noqa: PLC0415

    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")).select(
        F.month("l_shipdate").alias("ship_month"),
        micro_col(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("m_rev"),
        (F.col("p_type") == "ECONOMY").alias("is_promo"),
    )
    agg = j.groupBy("ship_month").agg(
        F.sum(F.when(F.col("is_promo"), F.col("m_rev")).otherwise(F.lit(0).cast("long")))
        .cast("long")
        .alias("promo_rev_micro"),
        F.sum("m_rev").cast("long").alias("total_rev_micro"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )
    return agg.select(
        F.col("ship_month").cast("long").alias("ship_month"),
        "promo_rev_micro",
        "total_rev_micro",
        "n_items",
        # downscale both sides to milli BEFORE the ratio: monthly micro
        # sums reach ~1e16 at sf0.1 and *1e6 overflows a long (the same
        # integer expression runs in both engines, so the truncation is
        # portable by construction)
        F.expr(
            "CASE WHEN total_rev_micro >= 1000"
            " THEN (promo_rev_micro DIV 1000) * CAST(1000000 AS BIGINT) DIV (total_rev_micro DIV 1000) END"
        ).alias("promo_share_micro"),
    )


Q07_SQL = """
WITH j AS (
  SELECT CAST(month(l_shipdate) AS BIGINT) AS ship_month,
         CAST(floor(l_extendedprice * (1 - l_discount) * 1000000 + 0.5) AS BIGINT) AS m_rev,
         p_type = 'ECONOMY' AS is_promo
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
),
a AS (
  SELECT ship_month,
         CAST(coalesce(sum(CASE WHEN is_promo THEN m_rev ELSE 0 END), 0) AS BIGINT) AS promo_rev_micro,
         CAST(coalesce(sum(m_rev), 0) AS BIGINT) AS total_rev_micro,
         CAST(count(*) AS BIGINT) AS n_items
  FROM j GROUP BY 1
)
SELECT ship_month, promo_rev_micro, total_rev_micro, n_items,
       CASE WHEN total_rev_micro >= 1000
            THEN CAST((promo_rev_micro // 1000) * 1000000 // (total_rev_micro // 1000) AS BIGINT) END AS promo_share_micro
FROM a
"""


# --------------------------------------------------------------------------
# aj02: as-of join, forward + nearest directions
# --------------------------------------------------------------------------

def aj02_asof_directions(spark: SparkSession, sf: str) -> DataFrame:
    """pandas merge_asof's other two directions through the oracle gate:
    each purchase matched to the NEXT view at-or-after it (forward) and
    to the NEAREST view in absolute time (ties prefer backward — the
    pandas convention), per user, on whole-second timestamps. Same
    union+window plan as aj01's backward join (operators/asof.py);
    null-timestamp rows are excluded up front because a null sorts
    first in one engine's window and matches nothing in the other's
    join. The twin computes min-at-or-after / max-at-or-before per
    purchase and replays the nearest tie rule."""
    from pyp_etl_pipeline_spark.operators.asof import asof_join  # noqa: PLC0415

    e = load_table(spark, sf, "events").withColumn("ts_sec", F.col("ts").cast("long"))
    p = e.filter((F.col("event_type") == "purchase") & F.col("ts_sec").isNotNull()).select(
        "user_id", "event_id", F.col("ts_sec").alias("ts")
    ).distinct()
    v = (
        e.filter((F.col("event_type") == "view") & F.col("ts_sec").isNotNull())
        .select("user_id", F.col("ts_sec").alias("ts"))
        .distinct()
    )
    fwd = asof_join(p, v, key="user_id", ts="ts", direction="forward").select(
        "user_id", "event_id", F.col("ts").alias("purchase_ts_sec"),
        F.col("ts_right").alias("next_view_ts"),
    )
    near = asof_join(p, v, key="user_id", ts="ts", direction="nearest").select(
        "event_id", F.col("ts_right").alias("nearest_view_ts")
    )
    return fwd.join(near, "event_id").select(
        "user_id", "event_id", "purchase_ts_sec", "next_view_ts", "nearest_view_ts"
    )


AJ02_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
  FROM events WHERE ts IS NOT NULL
),
p AS (SELECT DISTINCT user_id, event_id, ts_sec FROM e WHERE event_type = 'purchase'),
v AS (SELECT DISTINCT user_id, ts_sec FROM e WHERE event_type = 'view'),
fwd AS (
  SELECT p.user_id, p.event_id, p.ts_sec, min(v.ts_sec) AS next_view_ts
  FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts_sec >= p.ts_sec
  GROUP BY 1, 2, 3
),
bwd AS (
  SELECT p.event_id, max(v.ts_sec) AS prev_view_ts
  FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts_sec <= p.ts_sec
  GROUP BY 1
)
SELECT f.user_id, f.event_id, f.ts_sec AS purchase_ts_sec, f.next_view_ts,
       CASE WHEN b.prev_view_ts IS NULL THEN f.next_view_ts
            WHEN f.next_view_ts IS NULL THEN b.prev_view_ts
            WHEN f.next_view_ts - f.ts_sec < f.ts_sec - b.prev_view_ts THEN f.next_view_ts
            ELSE b.prev_view_ts END AS nearest_view_ts
FROM fwd f JOIN bwd b USING (event_id)
"""


# --------------------------------------------------------------------------
# tk03: tokenizer vocab coverage on a held-out split
# --------------------------------------------------------------------------

def tk03_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """The number a tokenizer ships with: OOV rate and fertility of a
    TRAIN-split WordPiece vocab measured on a HELD-OUT split (docs
    doc_id % 5 == 0). A held-out word is OOV when it contains a
    character the train split never saw (the [UNK] class — no vocab
    piece can cover it); every other word segments fully by tk02's
    maximal-munch, and fertility = cnt-weighted pieces-per-token in
    micro (1e6 = one piece per word; higher = the vocab splits words
    finer). Completes the tokenizer lifecycle: train (tk01) -> apply
    (tk02) -> EVALUATE (tk03) -> pack (pk01). All stages are
    dimension-sized (distinct words, not corpus rows); the epilogue is
    four single-row aggregates broadcast together."""
    from pyp_etl_pipeline_spark.operators import bpe as _bpe  # noqa: PLC0415

    d = load_corpus(spark, sf, "documents")
    train_w = _bpe.word_counts(d.filter(F.col("doc_id") % 5 != 0))
    held_w = _bpe.word_counts(d.filter(F.col("doc_id") % 5 == 0))
    vocab = _bpe.wordpiece_vocab(train_w)
    hchars = held_w.select(
        "word",
        "cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.col("word").substr(i, F.lit(1)),
            )
        ).alias("tok"),
    )
    unk_words = (
        hchars.join(F.broadcast(vocab), "tok", "left_anti").select("word", "cnt").distinct()
    )
    covered = held_w.join(unk_words.select("word"), "word", "left_anti")
    seg = _bpe.wordpiece_segment(covered, vocab)
    vs = vocab.agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
    tot = held_w.agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_tokens"),
    )
    unk = unk_words.agg(
        F.count(F.lit(1)).cast("long").alias("n_unk_words"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("unk_tokens"),
    )
    fert = seg.agg(
        F.coalesce(F.sum(F.col("n_pieces") * F.col("cnt")), F.lit(0)).cast("long").alias("pieces_weighted"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("covered_tokens"),
    )
    row = vs.join(F.broadcast(tot)).join(F.broadcast(unk)).join(F.broadcast(fert))
    return row.select(
        "vocab_size",
        "n_words",
        "n_tokens",
        "n_unk_words",
        "unk_tokens",
        F.expr(
            "CASE WHEN n_tokens > 0 THEN unk_tokens * CAST(1000000 AS BIGINT) DIV n_tokens END"
        ).alias("unk_rate_micro"),
        F.expr(
            "CASE WHEN covered_tokens > 0 THEN pieces_weighted * CAST(1000000 AS BIGINT) DIV covered_tokens END"
        ).alias("fertility_micro"),
    )


def _tk03_sql() -> str:
    words_of = (
        "SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM ("
        f"SELECT unnest(string_split({_snt('text')}, ' ')) AS word FROM documents WHERE doc_id % 5 {{op}} 0"
        ") WHERE word <> '' GROUP BY 1"
    )
    return f"""
WITH RECURSIVE
tw AS ({words_of.format(op="<>")}),
hw AS ({words_of.format(op="=")}),
chars AS (
  SELECT DISTINCT substring(word, CAST(i AS INT), 1) AS tok
  FROM (SELECT word, unnest(generate_series(1, length(word))) AS i FROM tw)
),
top AS (SELECT word FROM tw ORDER BY cnt DESC, word ASC LIMIT 10),
prefixes AS (
  SELECT DISTINCT substring(word, 1, CAST(i AS INT)) AS tok
  FROM (SELECT word, unnest(generate_series(2, least(6, length(word)))) AS i FROM top)
),
vocab AS (SELECT tok FROM chars UNION SELECT tok FROM prefixes),
hchars AS (
  SELECT word, substring(word, CAST(i AS INT), 1) AS tok
  FROM (SELECT word, unnest(generate_series(1, length(word))) AS i FROM hw)
),
unkw AS (SELECT DISTINCT word FROM hchars WHERE tok NOT IN (SELECT tok FROM vocab)),
cov AS (SELECT word, cnt FROM hw WHERE word NOT IN (SELECT word FROM unkw)),
starts AS (SELECT word, unnest(generate_series(1, length(word))) AS start FROM cov),
cand AS (
  SELECT s.word, s.start, unnest(generate_series(1, least(6, length(s.word) - s.start + 1))) AS len
  FROM starts s
),
hits AS (
  SELECT c.word, c.start, c.len
  FROM cand c JOIN vocab v
    ON v.tok = substring(c.word, CAST(c.start AS INT), CAST(c.len AS INT))
),
best AS (SELECT word, start, max(len) AS len FROM hits GROUP BY 1, 2),
walk AS (
  SELECT word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n
  FROM cov
  UNION ALL
  SELECT walk.word, walk.pos + b.len, walk.n + 1
  FROM walk JOIN best b ON b.word = walk.word AND b.start = walk.pos
  WHERE walk.pos <= length(walk.word)
),
seg AS (
  SELECT cov.word, cov.cnt, walk.n AS n_pieces
  FROM walk JOIN cov USING (word)
  WHERE walk.pos = length(cov.word) + 1
),
m AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM vocab) AS vocab_size,
         (SELECT CAST(count(*) AS BIGINT) FROM hw) AS n_words,
         (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM hw) AS n_tokens,
         (SELECT CAST(count(*) AS BIGINT) FROM unkw) AS n_unk_words,
         (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM hw WHERE word IN (SELECT word FROM unkw)) AS unk_tokens,
         (SELECT CAST(coalesce(sum(n_pieces * cnt), 0) AS BIGINT) FROM seg) AS pieces_weighted,
         (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) FROM seg) AS covered_tokens
)
SELECT vocab_size, n_words, n_tokens, n_unk_words, unk_tokens,
       CASE WHEN n_tokens > 0 THEN CAST(unk_tokens * 1000000 // n_tokens AS BIGINT) END AS unk_rate_micro,
       CASE WHEN covered_tokens > 0 THEN CAST(pieces_weighted * 1000000 // covered_tokens AS BIGINT) END AS fertility_micro
FROM m
"""


TK03_SQL = _tk03_sql()


# --------------------------------------------------------------------------
# mm14: real PNG thumbnail resize, pixel-certified
# --------------------------------------------------------------------------

def mm14_resized_thumbs(spark: SparkSession, sf: str) -> DataFrame:
    """Real image RESIZE certified at the pixel level: the mm09 gradient
    PNGs (16x8, v = (i*7 + 13x + 31y) % 256) go through
    ``binary_ops.resize_images`` (decode -> integer luminance ->
    nearest-neighbor lattice -> grayscale PNG re-encode) to 8x4, and
    ``png_pixel_stats`` decodes the RESIZED bytes back into exact
    integer sums/checksums. The twin computes the expected output
    pixels in closed form (src = out * src_dim DIV out_dim, so
    v_out(x, y) = (i*7 + 26x + 62y) % 256), which certifies the entire
    decode -> resample -> re-encode -> re-decode loop byte-for-byte.
    Both stages are map-only Arrow passes — the thumbnail shape of a
    100 TB image-curation pipeline."""
    from pyp_etl_pipeline_spark.multimodal.binary_ops import (  # noqa: PLC0415
        png_pixel_stats,
        resize_images,
    )
    from pyp_etl_pipeline_spark.multimodal.codecs import png_encode_gray_pixels  # noqa: PLC0415

    d = load_table(spark, sf, "documents").select("doc_id").filter(F.col("doc_id") % 2 == 0)

    def encode(i):
        return png_encode_gray_pixels(
            [[(i * 7 + x * 13 + y * 31) % 256 for x in range(16)] for y in range(8)]
        )

    media = synth_media(d, encode)
    return png_pixel_stats(resize_images(media, width=8, height=4))


def _mm14_sql(src_w: int = 16, src_h: int = 8, out_w: int = 8, out_h: int = 4) -> str:
    # nearest-neighbor: v_out(x, y) = (i*7 + (x*src_w DIV out_w)*13 + (y*src_h DIV out_h)*31) % 256
    sums = []
    checks = []
    for y in range(out_h):
        for x in range(out_w):
            v = f"((doc_id * 7 + {(x * src_w // out_w) * 13} + {(y * src_h // out_h) * 31}) % 256)"
            sums.append(v)
            checks.append(f"{v} * {y * out_w + x + 1}")
    return f"""
SELECT doc_id AS media_id,
       CAST({out_w} AS INT) AS width, CAST({out_h} AS INT) AS height,
       CAST({out_w * out_h} AS BIGINT) AS n_px,
       CAST({" + ".join(sums)} AS BIGINT) AS pix_sum,
       CAST({" + ".join(checks)} AS BIGINT) AS pix_checksum
FROM documents WHERE doc_id % 2 = 0
"""


MM14_SQL = _mm14_sql()


# --------------------------------------------------------------------------
# sa01: key-skew audit
# --------------------------------------------------------------------------

def sa01_skew_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Key-distribution audit of events.user_id — the diagnosis that
    decides between plain hash partitioning, AQE skew splitting, and
    sk01's salted join (see operators/skew.py: skew_audit for the
    metric definitions and plan shape)."""
    from pyp_etl_pipeline_spark.operators import skew as _skew  # noqa: PLC0415

    return _skew.skew_audit(load_table(spark, sf, "events"), "user_id", top_n=10)


SA01_SQL = """
WITH counts AS (
  SELECT user_id AS key_value, CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1
),
totals AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(n_rows) AS BIGINT) AS max_rows
  FROM counts
),
top AS (
  SELECT key_value, n_rows,
         CAST(row_number() OVER (ORDER BY n_rows DESC, key_value ASC NULLS FIRST) AS BIGINT) AS key_rank
  FROM counts
  QUALIFY key_rank <= 10
)
SELECT key_rank, key_value::VARCHAR AS key_value, n_rows,
       CAST(n_rows * 1000000 // total_rows AS BIGINT) AS share_micro,
       total_rows, n_keys,
       CAST(max_rows * n_keys * 1000000 // total_rows AS BIGINT) AS skew_micro,
       CAST((max_rows * n_keys + total_rows - 1) // total_rows AS BIGINT) AS salt_factor
FROM top CROSS JOIN totals
"""


QUERIES3 = {
    "hn01_hard_negatives": (hn01_hard_negatives, HN01_SQL),
    "ev03_rank_agreement": (ev03_rank_agreement, EV03_SQL),
    "cu01_curriculum_schedule": (cu01_curriculum_schedule, CU01_SQL),
    "dp01_noisy_counts": (dp01_noisy_counts, DP01_SQL),
    "mk01_mlm_masking_plan": (mk01_mlm_masking_plan, MK01_SQL),
    "sa01_skew_audit": (sa01_skew_audit, SA01_SQL),
    "tx17_url_normalize": (tx17_url_normalize, TX17_SQL),
    "dc03_semantic_decontaminate": (dc03_semantic_decontaminate, DC03_SQL),
    "px03_pii_density": (px03_pii_density, PX03_SQL),
    "mm14_resized_thumbs": (mm14_resized_thumbs, MM14_SQL),
    "tk03_vocab_coverage": (tk03_vocab_coverage, TK03_SQL),
    "aj02_asof_directions": (aj02_asof_directions, AJ02_SQL),
    "q07_promo_revenue_share": (q07_promo_revenue_share, Q07_SQL),
    "ka01_k_anonymity": (ka01_k_anonymity, KA01_SQL),
    "uv01_unpivot_part_attrs": (uv01_unpivot_part_attrs, UV01_SQL),
    "gs01_grouping_sets": (gs01_grouping_sets, GS01_SQL),
    "hy01_hybrid_rrf_fusion": (hy01_hybrid_rrf_fusion, HY01_SQL),
    "bfs01_reach_levels": (bfs01_reach_levels, BFS01_SQL),
    "hh01_threshold_heavy_hitters": (hh01_heavy_hitters, HH01_SQL),
    "sq01_session_transitions": (sq01_session_transitions, SQ01_SQL),
    "mm11_audio_fingerprint_groups": (mm11_audio_fingerprint_groups, MM11_SQL),
    "ws01_weighted_sample": (ws01_weighted_sample, WS01_SQL),
    "tx16_heldout_logprob": (tx16_heldout_logprob, TX16_SQL),
    "ann06_ivfpq_topk": (ann06_ivfpq_topk, ANN06_SQL),
    "ann07_ivfpq_refine_topk": (ann07_ivfpq_refine_topk, ANN07_SQL),
    "mx03_temperature_mixture": (mx03_temperature_mixture, MX03_SQL),
    "ev02_ann_recall": (ev02_ann_recall, EV02_SQL),
    "se01_schema_evolution": (se01_schema_evolution, SE01_SQL),
    "mm12_gif_decode": (mm12_gif_decode, MM12_SQL),
    "mm13_gif_animation_frames": (mm13_gif_animation_frames, MM13_SQL),
    "fm01_orc_roundtrip": (fm01_orc_roundtrip, FM01_SQL),
    "mm10_image_neardup_pairs": (mm10_image_neardup_pairs, MM10_SQL),
    "mm09_image_dhash": (mm09_image_dhash, MM09_SQL),
    "w10_ohlc_bars": (w10_ohlc_bars, W10_SQL),
    "st10_streaming_materialized_rollup": (st10_streaming_materialized_rollup, ST10_SQL),
    "bf01_bloom_decontaminate": (bf01_bloom_decontaminate, BF01_SQL),
    "tc01_triangle_census": (tc01_triangle_census, TC01_SQL),
    "ep01_epoch_shuffle": (ep01_epoch_shuffle, EP01_SQL),
    "pf01_table_profile": (pf01_table_profile, PF01_SQL),
    "tx15_readability": (tx15_readability, TX15_SQL),
    "cp01_compaction_plan": (cp01_compaction_plan, CP01_SQL),
    "mm08_hadamard_spectrum": (mm08_hadamard_spectrum, MM08_SQL),
    "wz01_winsorized_stats": (wz01_winsorized_stats, WZ01_SQL),
    "ad01_traffic_anomalies": (ad01_traffic_anomalies, AD01_SQL),
    "js01_json_extract_rollup": (js01_json_extract_rollup, JS01_SQL),
    "st09_stream_stream_left_join": (st09_stream_stream_left_join, ST09_SQL),
    "pt01_partition_pruned_rollup": (pt01_partition_pruned_rollup, PT01_SQL),
    "bm01_bm25_rank": (bm01_bm25_rank, BM01_SQL),
    "ia01_incremental_rollup": (ia01_incremental_rollup, IA01_SQL),
    "tk02_wordpiece_segment": (tk02_wordpiece_segment, TK02_SQL),
    "qt01_histogram_quantiles": (qt01_histogram_quantiles, QT01_SQL),
    "ii01_inverted_index": (ii01_inverted_index, II01_SQL),
    "gf01_gap_fill": (gf01_gap_fill, GF01_SQL),
    "t09_masking": (t09_masking, T09_SQL),
    "p01_header_mapping": (p01_header_mapping, P01_SQL),
    "sp01_hash_split": (sp01_hash_split, SP01_SQL),
    "sp02_stratified_sample": (sp02_stratified_sample, SP02_SQL),
    "mx01_corpus_mixture": (mx01_corpus_mixture, MX01_SQL),
    "mx02_token_budget_fill": (mx02_token_budget_fill, MX02_SQL),
    "pk01_sequence_packing": (pk01_sequence_packing, PK01_SQL),
    "px01_pii_scrub": (px01_pii_scrub, PX01_SQL),

    "mm02_media_decode": (mm02_media_decode, MM02_SQL),
    "mm03_jpeg_decode": (mm03_jpeg_decode, MM03_SQL),
    "mm04_frame_sample_plan": (mm04_frame_sample_plan, MM04_SQL),
    "mm05_mp4_metadata": (mm05_mp4_metadata, MM05_SQL),
    "mm07_mjpeg_frames": (mm07_mjpeg_frames, MM07_SQL),
    "q05_sql_interface": (q05_sql_interface, Q05_SQL),
    "f03_name_email_validation": (f03_name_email_validation, F03_SQL),
    "f05_country_whitelist": (f05_country_whitelist, F05_SQL),
    "t03_punct_lower_key": (t03_punct_lower_key, T03_SQL),
    "o07_distinct_sorted_filters": (o07_distinct_sorted_filters, O07_SQL),
    "a03_push_summary": (a03_push_summary, A03_SQL),
    "a05_error_summary_24h": (a05_error_summary_24h, A05_SQL),
    "u02_idarray_union": (u02_idarray_union, U02_SQL),
    "e03_crosslink_dedup": (e03_crosslink_dedup, E03_SQL),
    "ann03_ivf_topk": (ann03_ivf_topk, ANN03_SQL),
    "aj01_asof_purchase_view": (aj01_asof_purchase_view, AJ01_SQL),
    "a07_status_priority_rollup": (a07_status_priority_rollup, A07_SQL),
    "a08_percentile_summary": (a08_percentile_summary, A08_SQL),
    "w04_lag_delta": (w04_lag_delta, W04_SQL),
    "st02_streaming_sliding": (st02_streaming_sliding, ST02_SQL),
    "st03_stateful_running_totals": (st03_stateful_running_totals, ST03_SQL),
    "st04_streaming_dedup": (st04_streaming_dedup, ST04_SQL),
    "mm01_media_features": (mm01_media_features, MM01_SQL),
}
