"""Declared analytic query surface over the driver testdata tables.

Each entry pairs an idiomatic-Spark DataFrame program with the
equivalent ANSI SQL an external oracle (DuckDB) can run on the same
parquet tables. The pairs are the correctness gate for the operator
inventory in SURVEY.md §2:

- A3/A4 aggregations  -> q1_pricing_summary, events_pivot_by_type
- J1/J2 joins          -> q3_top_revenue, q5_region_volume,
                          customer_churn_features, orders_priority_semi
- WF1 window dedup     -> events_latest_per_user, events_cdc_state
- F1-F4 predicates     -> everywhere; U1 union inside cdc state
- O1-O3 sort/limit     -> q3_top_revenue, top3_orders_per_cust
- SF5-SF9 scalar fns   -> customer_churn_features
- training-data ops    -> docs_exact_dedup, docs_text_stats,
                          emb_knn_brute (see operators/)

Conventions for oracle comparability (the driver hashes values
order-insensitively but compares column names and exact values):
- every computed column is aliased identically on both sides;
- floating-point aggregates are rounded (2dp money, 4dp ratios,
  6dp similarities) AFTER ordering decisions are made on full precision;
- timestamps are projected as DATE or excluded — the Spark session is
  pinned to UTC (session.py) so instants agree with DuckDB's naive
  timestamps;
- LIMIT queries always order by a unique tiebreaker.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.cdc import dedupe_latest
from ..operators.similarity import cosine_similarity_col
from ..operators.textstats import with_token_stats
from ..spec import OP_DELETE
from .demo_fixture import demo_root


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver testdata table.

    Some testdata vintages store ``events.ts`` as parquet INT64
    TIMESTAMP(NANOS), which Spark 4 rejects outright
    (PARQUET_TYPE_ILLEGAL). The runtime-settable legacy knob reads nanos
    as a plain long; we then rebuild a microsecond timestamp with
    integer division (``div`` stays in long arithmetic — a double
    division would lose precision above 2^53 ns). DuckDB truncates
    ns→µs identically, so oracle hashes agree. Newer vintages write
    ``ts`` as standard TIMESTAMP(MICROS) — the dtype guard makes the
    bridge a no-op there, mirroring ``streaming.stage_micros_parquet``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    headline: bool = True  # include in bench.py


def _utc(spark: SparkSession) -> None:
    # Defensive: the verify driver builds its own session; timestamp
    # comparisons against the oracle require UTC (runtime-settable).
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# --------------------------------------------------------------------------
# q1_pricing_summary — TPC-H Q1 shape: scan + filter + hash aggregate.
# Mirrors reference A3 (groupBy + COUNT/SUM, sample_redshift_ml_sql_query.txt:27-33).
# Scale: single shuffle on two low-cardinality keys; partial aggregation
# map-side; filter + column pruning pushed to the parquet scan.
# --------------------------------------------------------------------------

def _q1_agg(li: DataFrame) -> DataFrame:
    """The Q1 filter+aggregate over any lineitem-shaped frame (shared
    by the raw-parquet and managed-table gates)."""
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return _q1_agg(load(spark, sf_dir, "lineitem"))


Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# q3_top_revenue — TPC-H Q3 shape: selective dim filter + 3-way join +
# agg + top-N. Mirrors reference J2 (3-way equi-join,
# sample_redshift_ml_sql_query.txt:54-73) and O1/O3 sort+limit.
# Scale: customer filter first (small side -> broadcast), lineitem stays
# fact-sized; top-N via TakeOrderedAndProject (no global sort
# materialization).
# --------------------------------------------------------------------------

def q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    # No broadcast hint on customer: it grows with scale factor (TPC-H
    # sf100 ~ 15M rows) and a hard hint overrides AQE — at local scale
    # AQE still picks broadcast because the filtered side is small.
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        joined.groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"))
        .agg(revenue.alias("_rev"))
        .orderBy(F.col("_rev").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "o_orderdate",
            F.round(F.col("_rev"), 2).alias("revenue"),
        )
    )


Q3_ORACLE = """
SELECT l_orderkey, o_orderdate, round(rev, 2) AS revenue
FROM (
  SELECT l.l_orderkey,
         CAST(o.o_orderdate AS DATE) AS o_orderdate,
         sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
    AND l.l_shipdate  > TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
) ORDER BY rev DESC, l_orderkey LIMIT 10
"""


# --------------------------------------------------------------------------
# q5_region_volume — TPC-H Q5 shape: snowflake join across 6 tables with
# the classic "supplier nation = customer nation" constraint.
# Scale: region/nation/supplier/customer are all broadcast-able dims;
# only orders⋈lineitem shuffles.
# --------------------------------------------------------------------------

def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    # Broadcast hints only on the fixed-size dims (region: 5 rows,
    # nation: 25 rows). customer/supplier grow with scale factor —
    # AQE decides those joins from runtime sizes (broadcast while the
    # side fits, sort-merge beyond).
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


Q5_ORACLE = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# events_latest_per_user — the reference's signature operator WF1
# (latest-record CDC dedup, src/hudi/hudi-cdc-load.py:79-88) expressed
# the deterministic way (SURVEY §7.4.1): row_number over
# (key ORDER BY ts DESC, unique tiebreaker) == 1.
# Scale: one hash shuffle on the key; no unbounded range frame.
# --------------------------------------------------------------------------

def events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = load(spark, sf_dir, "events")
    latest = dedupe_latest(ev, key="user_id", ts_col="ts", tiebreakers=[F.col("event_id").desc()])
    return latest.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


EVENTS_LATEST_ORACLE = """
SELECT user_id,
       event_id   AS last_event_id,
       event_type AS last_event_type,
       value      AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# events_cdc_state — the full CDC apply dataflow (§3.2) as one query:
# map events to a DMS-style envelope (signup->I, error->D, else U),
# keep the latest op per key, upsert I/U and drop keys whose latest op
# is D. This is exactly the semantics initial+cdc_load produce on a
# managed table, validated end-to-end against the SQL oracle.
# --------------------------------------------------------------------------

def events_cdc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = load(spark, sf_dir, "events")
    enveloped = ev.withColumn(
        "Op",
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U")),
    )
    latest = dedupe_latest(
        enveloped, key="user_id", ts_col="ts", op_col="Op",
        tiebreakers=[F.col("event_id").desc()],
    )
    surviving = latest.filter(F.col("Op") != OP_DELETE)
    return surviving.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


EVENTS_CDC_STATE_ORACLE = """
WITH enveloped AS (
  SELECT *,
         CASE WHEN event_type = 'signup' THEN 'I'
              WHEN event_type = 'error'  THEN 'D'
              ELSE 'U' END AS op
  FROM events
), latest AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id
      ORDER BY ts DESC,
               (CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC,
               event_id DESC) AS rn
  FROM enveloped
)
SELECT user_id,
       event_id   AS last_event_id,
       event_type AS last_event_type,
       value      AS last_value
FROM latest WHERE rn = 1 AND op <> 'D'
"""


# --------------------------------------------------------------------------
# events_pivot_by_type — reference A4: conditional (pivot-style)
# aggregation, SUM(CASE WHEN device=... ) per user
# (sample_redshift_ml_sql_query.txt:38-49), re-keyed to events.
# --------------------------------------------------------------------------

def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = load(spark, sf_dir, "events")

    def vsum(t: str):
        return F.round(F.sum(F.when(F.col("event_type") == t, F.col("value")).otherwise(F.lit(0.0))), 2)

    def csum(t: str):
        return F.sum(F.when(F.col("event_type") == t, F.lit(1)).otherwise(F.lit(0)))

    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        vsum("click").alias("click_value"),
        vsum("view").alias("view_value"),
        vsum("purchase").alias("purchase_value"),
        csum("error").alias("n_errors"),
        csum("signup").alias("n_signups"),
    )


EVENTS_PIVOT_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       round(sum(CASE WHEN event_type = 'click'    THEN value ELSE 0 END), 2) AS click_value,
       round(sum(CASE WHEN event_type = 'view'     THEN value ELSE 0 END), 2) AS view_value,
       round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase_value,
       CAST(sum(CASE WHEN event_type = 'error'  THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signups
FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------------
# events_hourly_rollup — time-bucketed (hypertable-style) rollup over
# the event stream: date_trunc to the hour + grouped aggregates, the
# canonical time-series downsampling plan. Scale: single shuffle on
# (hour, event_type); partial aggregation map-side; the hour column is
# projected as a string so both engines hash identical values.
# --------------------------------------------------------------------------

def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    return (
        ev.groupBy(
            F.date_format(hour, "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


EVENTS_ROLLUP_ORACLE = """
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# docs_token_counts — token counting with a BPE-ish regex (letter runs,
# digit runs, single punctuation marks — the pre-tokenization split
# GPT-style BPE applies before merges), alongside whitespace counts.
# Both engines run the identical regex, all JVM/native-side.
# --------------------------------------------------------------------------

_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def docs_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    ws_toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    bpe_toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_ISH), 0)
    return docs.select(
        "doc_id",
        F.size(ws_toks).alias("n_ws_tokens"),
        F.size(bpe_toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe_toks)).alias("n_uniq_bpe_tokens"),
    )


DOCS_TOKEN_COUNTS_ORACLE = f"""
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{_BPE_ISH}')) AS n_bpe_tokens,
       len(list_distinct(regexp_extract_all(text, '{_BPE_ISH}'))) AS n_uniq_bpe_tokens
FROM documents
"""


# --------------------------------------------------------------------------
# docs_repetition_stats — Gopher-style repetition signals (duplicate
# token / top-token / duplicate-2-gram fractions): the standard cheap
# boilerplate detectors for LLM corpus curation. Fractions are
# codegen'd array expressions; the per-doc mode count runs as one
# explode + two-level groupBy shuffle on the id (an expression fold
# would be interpreted O(distinct x total)). The oracle mirrors the
# math over the same whitespace tokenization with unnest + windowed
# lists in DuckDB.
# --------------------------------------------------------------------------


def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import with_repetition_stats

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    return with_repetition_stats(docs).select(
        "doc_id", "n_tokens", "dup_token_frac", "top_token_frac", "dup_2gram_frac"
    )


DOCS_REPETITION_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
), base AS (
  SELECT doc_id, toks, len(toks) AS n, len(list_distinct(toks)) AS nd,
         CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1])
         ELSE [] END AS grams
  FROM t
), mode AS (
  SELECT doc_id, max(c) AS max_cnt FROM (
    SELECT doc_id, tok, count(*) AS c
    FROM t, unnest(t.toks) AS u(tok)
    GROUP BY doc_id, tok
  ) GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n AS BIGINT) AS n_tokens,
       round(CASE WHEN b.n > 0 THEN 1.0 - b.nd * 1.0 / b.n ELSE 0.0 END, 6)
         AS dup_token_frac,
       round(coalesce(m.max_cnt * 1.0 / b.n, 0.0), 6) AS top_token_frac,
       round(CASE WHEN len(b.grams) > 0
                  THEN 1.0 - len(list_distinct(b.grams)) * 1.0 / len(b.grams)
                  ELSE 0.0 END, 6) AS dup_2gram_frac
FROM base b LEFT JOIN mode m USING (doc_id)
"""


# --------------------------------------------------------------------------
# docs_vocab_topk — corpus-level vocabulary induction: top document
# frequencies over per-doc DISTINCT tokens (stop-word discovery / IDF
# weights / tokenizer vocab seeding). One map-side-combined count
# shuffle on the token; the doc total broadcasts. Deterministic order
# by (doc_freq desc, token).
# --------------------------------------------------------------------------


def docs_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import document_frequencies

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    return (
        document_frequencies(docs)
        .orderBy(F.col("doc_freq").desc(), "token")
        .limit(100)
    )


DOCS_VOCAB_ORACLE = """
WITH t AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS tok
  FROM documents
)
SELECT tok AS token,
       count(*) AS doc_freq,
       round(count(*) * 1.0 / (SELECT count(*) FROM documents), 6) AS doc_frac
FROM t
GROUP BY tok
ORDER BY doc_freq DESC, token
LIMIT 100
"""


# --------------------------------------------------------------------------
# customer_churn_features — the reference's downstream churn feature
# workload (§3.3, sample_redshift_ml_sql_query.txt:11-73): projections,
# DATEDIFF (SF5), CASE churn label (SF6), group-by aggregates and an
# equi-join, re-keyed to customer/orders.
# --------------------------------------------------------------------------

def customer_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dates import account_days, as_of_date

    _utc(spark)
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order_date"),
        account_days(F.min("o_orderdate"), F.max("o_orderdate")).alias("account_days"),
    )
    # SF6 CASE label against an SF7 as-of date — pinned for determinism
    # (pass None for the live CURRENT_DATE behavior).
    labeled = per_cust.withColumn(
        "churned",
        F.when(F.col("last_order_date") < as_of_date("2000-01-01"), F.lit(1)).otherwise(F.lit(0)),
    )
    return (
        cust.join(labeled, cust.c_custkey == labeled.o_custkey)
        .select(
            "c_custkey",
            "c_mktsegment",
            "n_orders",
            "total_spent",
            "last_order_date",
            "account_days",
            "churned",
        )
    )


CHURN_ORACLE = """
SELECT c.c_custkey, c.c_mktsegment, f.n_orders, f.total_spent,
       f.last_order_date, f.account_days, f.churned
FROM customer c
JOIN (
  SELECT o_custkey,
         count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_spent,
         CAST(max(o_orderdate) AS DATE) AS last_order_date,
         date_diff('day', CAST(min(o_orderdate) AS DATE), CAST(max(o_orderdate) AS DATE)) AS account_days,
         CASE WHEN CAST(max(o_orderdate) AS DATE) < DATE '2000-01-01' THEN 1 ELSE 0 END AS churned
  FROM orders GROUP BY o_custkey
) f ON c.c_custkey = f.o_custkey
"""


# --------------------------------------------------------------------------
# orders_priority_semi — EXISTS via left-semi join (Q4 shape). The
# reference has no semi join; added for operator completeness.
# --------------------------------------------------------------------------

def orders_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


ORDERS_SEMI_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# orders_urgent_by_status — F3 IN-list predicate as a first-class
# analytic filter (reference `filter("Op IN ('U','D')")`,
# src/hudi/hudi-cdc-load.py:89-90), combined with an A4-style
# conditional aggregate. Scale: both predicates reach the parquet scan
# as pushed In/Or filters; single shuffle on the group key.
# --------------------------------------------------------------------------

def orders_urgent_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    orders = load(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(1)).otherwise(F.lit(0))).alias("n_urgent"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


ORDERS_URGENT_ORACLE = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_orderstatus  IN ('F', 'O')
GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------------
# top3_orders_per_cust — top-K per group via ranking window, the
# standard OLAP pattern the latest-record dedup generalizes to.
# --------------------------------------------------------------------------

def top3_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rank_in_cust", F.row_number().over(w))
        .filter(F.col("rank_in_cust") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "rank_in_cust")
    )


TOP3_ORACLE = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rank_in_cust
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_cust
  FROM orders
) WHERE rank_in_cust <= 3
"""


# --------------------------------------------------------------------------
# q14_promo_revenue — TPC-H Q14 shape: join + LIKE predicate (string
# function surface) + conditional aggregate producing one scalar.
# Scale: part is the small side (AQE broadcast); lineitem scans with
# the date filter pushed; single partial-aggregated reduction.
# --------------------------------------------------------------------------

def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.sum(F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0)))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(F.round(100 * promo_rev / F.sum(rev), 4).alias("promo_revenue_pct"))
    )


Q14_ORACLE = """
SELECT round(100 * sum(CASE WHEN p_type LIKE 'PROMO%'
                            THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-07-01'
"""


# --------------------------------------------------------------------------
# q18_large_orders — TPC-H Q18 shape: HAVING over a fact aggregate,
# then join back to orders/customer for the top-N. Scale: the HAVING
# prunes the aggregate before the joins (tiny build side), top-N via
# TakeOrderedAndProject.
# --------------------------------------------------------------------------

def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 250)  # HAVING
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
        .limit(20)
    )


Q18_ORACLE = """
SELECT c.c_custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
       round(o.o_totalprice, 2) AS o_totalprice, b.total_qty
FROM (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 250
) b
JOIN orders o   ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey  = c.c_custkey
ORDER BY b.total_qty DESC, o.o_orderkey LIMIT 20
"""


# --------------------------------------------------------------------------
# orders_grouping_sets — multi-granularity aggregate in ONE pass via
# GROUPING SETS (status, status x priority, grand total), through the
# SQL API (temp view + spark.sql). Group keys are coalesced to 'ALL'
# so the output is null-free for hashing. Scale: Spark expands grouping
# sets into a single shuffle with a grouping-id column — one scan, not
# three.
# --------------------------------------------------------------------------

def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL')   AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*)                          AS n_orders,
               round(sum(o_totalprice), 2)       AS total_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderstatus, o_orderpriority), ())
        """
    )


ORDERS_GROUPING_SETS_ORACLE = """
SELECT coalesce(o_orderstatus, 'ALL')   AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*)                          AS n_orders,
       round(sum(o_totalprice), 2)       AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderstatus, o_orderpriority), ())
"""


# --------------------------------------------------------------------------
# docs_exact_dedup — exact deduplication over the documents table:
# content-hash groupBy keeping the lowest doc_id as canonical.
# Scale: md5 is computed JVM-side; single shuffle on the 128-bit hash —
# the canonical 100-TB exact-dedup plan.
# --------------------------------------------------------------------------

def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


DOCS_EXACT_DEDUP_ORACLE = """
SELECT md5(text) AS text_hash,
       count(*) AS n_dups,
       min(doc_id) AS canonical_doc_id
FROM documents GROUP BY md5(text)
"""


# --------------------------------------------------------------------------
# docs_text_stats — text-analysis operators (token counting, uniqueness)
# as pure built-in expressions (no Python UDF in the hot path).
# --------------------------------------------------------------------------

def docs_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    return with_token_stats(docs, text_col="text").select(
        "doc_id",
        "lang",
        "n_chars_calc",
        "n_tokens",
        "n_uniq_tokens",
        "uniq_token_ratio",
        "avg_token_len",
    )


DOCS_TEXT_STATS_ORACLE = """
SELECT doc_id, lang,
       length(text) AS n_chars_calc,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_uniq_tokens,
       round(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS uniq_token_ratio,
       round(list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks), 4) AS avg_token_len
FROM (
  SELECT *, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
)
"""


# --------------------------------------------------------------------------
# docs_split_counts — deterministic content-hash train/test split
# (operators/sampling.with_split): the assignment is a pure function
# of the text bytes (md5 bucket), so it is identical across engines,
# reruns, and physical layouts — unlike randomSplit, whose assignment
# depends on partitioning. The confusion-free oracle recomputes the
# same bucketing in DuckDB ('0x'-cast of the same 4 md5 hex chars).
# Scale: hash+substring per row, no shuffle; the groupBy is
# low-cardinality (2 splits x |langs|).
# --------------------------------------------------------------------------

def docs_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import with_split

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    return (
        with_split(docs, key_col="text", train_frac=0.8)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


DOCS_SPLIT_ORACLE = """
SELECT CASE WHEN CAST('0x' || substr(md5(text), 1, 4) AS INTEGER) < 52428
            THEN 'train' ELSE 'test' END AS split,
       lang, count(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# docs_lang_confusion — heuristic language-ID (marker-token argmax,
# operators/textstats.with_lang_id) evaluated against the labeled
# `lang` column as a confusion-matrix aggregate. The oracle re-derives
# the same heuristic in SQL from the SAME marker lists (inlined from
# _LANG_MARKERS, so the two sides cannot drift), with first-listed-
# wins tie semantics encoded as a cascaded CASE.
# Scale: pure per-row expressions (codegen) + one low-cardinality
# groupBy — a map-side-combine aggregate at any size.
# --------------------------------------------------------------------------

def docs_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import with_lang_id

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    return (
        with_lang_id(docs, text_col="text")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


def _lang_pred_sql_parts() -> tuple[str, str]:
    """(score column list, argmax CASE) re-derived from the SAME marker
    lists the Spark operator uses — the two sides cannot drift. The
    scores expect a lowercased-token list column named ``t``."""
    from ..operators.textstats import _LANG_MARKERS

    score_cols = ",\n    ".join(
        "len(list_filter(t, x -> list_contains(["
        + ", ".join("'" + m + "'" for m in markers)
        + f"], x))) AS s_{lang}"
        for lang, markers in _LANG_MARKERS.items()
    )
    langs = list(_LANG_MARKERS)  # en, de, fr, es, zh — declaration order
    branches = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"s_{lang} >= s_{other}" for other in langs[i + 1 :])
        branches.append(f"WHEN {conds} THEN '{lang}'")
    case = (
        "CASE WHEN greatest(" + ", ".join(f"s_{la}" for la in langs) + ") = 0 THEN 'und'\n    "
        + "\n    ".join(branches)
        + f"\n    ELSE '{langs[-1]}' END"
    )
    return score_cols, case


def _lang_confusion_oracle() -> str:
    score_cols, case = _lang_pred_sql_parts()
    return f"""
WITH toks AS (
  SELECT lang, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
  FROM documents
), scores AS (
  SELECT lang,
    {score_cols}
  FROM toks
)
SELECT lang, {case} AS lang_pred, count(*) AS n_docs
FROM scores
GROUP BY 1, 2
"""


DOCS_LANG_CONFUSION_ORACLE = _lang_confusion_oracle()


# --------------------------------------------------------------------------
# docs_quality_score — heuristic quality ratios (alpha / punct /
# whitespace / digit character fractions), the standard cheap
# pre-filters for corpus cleaning. Spark `regexp_replace` is global;
# DuckDB's needs the explicit 'g' flag — same regexes otherwise.
# Scale: four regex passes per row, all codegen; no shuffle at all
# (per-document projection).
# --------------------------------------------------------------------------

def docs_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import with_quality_score

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    return with_quality_score(docs, text_col="text").select(
        "doc_id", "alpha_ratio", "punct_ratio", "space_ratio", "digit_ratio"
    )


DOCS_QUALITY_ORACLE = r"""
SELECT doc_id,
       round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / n, 4) AS alpha_ratio,
       round(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) * 1.0 / n, 4) AS punct_ratio,
       round(length(regexp_replace(text, '[^\s]', '', 'g')) * 1.0 / n, 4) AS space_ratio,
       round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / n, 4) AS digit_ratio
FROM (SELECT doc_id, text, CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END AS n
      FROM documents)
"""


# --------------------------------------------------------------------------
# docs_curation_pipeline — the full training-data curation flow as ONE
# composed query: token-count quality floor -> heuristic lang filter
# ('en' only) -> exact dedup (canonical min doc_id per content hash) ->
# near-dup removal (drop the larger id of every MinHash-verified pair
# with Jaccard >= 0.8, computed WITHIN the surviving set) ->
# deterministic train/test split -> per-split corpus stats. Every stage
# reuses an individually-gated operator; this entry gates their
# composition. avg_alpha sums in DECIMAL (order-independent) because
# per-split membership differs at every stage boundary.
# Scale: filters are per-row codegen; dedup is one shuffle on the
# content hash; near-dup is the banded-LSH path (never all-pairs); the
# final aggregate is 2 rows.
# --------------------------------------------------------------------------

def docs_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_near_dup_pairs
    from ..operators.sampling import with_split
    from ..operators.textstats import with_lang_id, with_quality_score

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    d = with_quality_score(with_lang_id(with_token_stats(docs, text_col="text")))
    kept = d.filter((F.col("n_tokens") >= 25) & (F.col("lang_pred") == "en")).select(
        "doc_id", "text", "n_tokens", "alpha_ratio"
    )
    # The filtered set feeds three branches (canonical-hash dedup, the
    # near-dup pair join, and the final anti-join); without the cache
    # each branch re-evaluates the lang-id/quality expression stack
    # (measured 7.3s -> 4.9s at sf0.1). At warehouse scale this stage
    # boundary is where the curated set would be checkpointed anyway.
    kept = kept.persist()
    canon = kept.groupBy(F.md5("text").alias("__h")).agg(F.min("doc_id").alias("doc_id"))
    kept = kept.join(canon.select("doc_id"), "doc_id")
    near = minhash_near_dup_pairs(
        kept.select("doc_id", "text"), id_col="doc_id", text_col="text", threshold=0.8
    )
    final = kept.join(
        near.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "left_anti"
    )
    return (
        with_split(final, key_col="text", train_frac=0.8)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("n_tokens") / F.count("*"), 4).alias("avg_tokens"),
            F.round(
                F.sum(F.col("alpha_ratio").cast("decimal(10,4)")).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_alpha"),
        )
    )


def _curation_oracle() -> str:
    score_cols, case = _lang_pred_sql_parts()
    return rf"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
         round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 /
               (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END), 4) AS alpha_ratio
  FROM documents
), scored AS (
  SELECT doc_id, text, n_tokens, alpha_ratio,
    {score_cols}
  FROM base
), kept AS (
  SELECT doc_id, text, n_tokens, alpha_ratio FROM scored
  WHERE n_tokens >= 25 AND ({case}) = 'en'
), canon AS (
  SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)
), kept2 AS (
  SELECT k.* FROM kept k JOIN canon c ON k.doc_id = c.doc_id
), sh AS (
  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
      list_distinct(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
    ELSE [array_to_string(t, ' ')] END AS s
  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        FROM kept2)
), dup AS (
  SELECT DISTINCT b.doc_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(a.s || b.s)) >= 0.8
), final AS (
  SELECT * FROM kept2 WHERE doc_id NOT IN (SELECT doc_id FROM dup)
)
SELECT CASE WHEN CAST('0x' || substr(md5(text), 1, 4) AS INTEGER) < 52428
            THEN 'train' ELSE 'test' END AS split,
       count(*) AS n_docs,
       round(sum(n_tokens) * 1.0 / count(*), 4) AS avg_tokens,
       round(CAST(sum(CAST(alpha_ratio AS DECIMAL(10,4))) AS DOUBLE) / count(*), 4) AS avg_alpha
FROM final
GROUP BY 1
"""


DOCS_CURATION_ORACLE = _curation_oracle()


# --------------------------------------------------------------------------
# docs_minhash_near_dup — near-duplicate text detection at scale:
# MinHash signatures over 3-token shingles, banded LSH candidate
# generation (OR-amplified, b=32 r=2: P(miss at j=0.8) ~ 6e-15), exact
# Jaccard verification. The oracle is the exact all-pairs computation,
# so this gate proves the LSH path loses nothing above the threshold.
# --------------------------------------------------------------------------

def docs_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_near_dup_pairs

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(docs, id_col="doc_id", text_col="text", threshold=0.8)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 4).alias("jaccard")
    )


def _all_pairs_jaccard_oracle(threshold: float) -> str:
    """Exact all-pairs 3-token-shingle Jaccard in DuckDB — the shared
    oracle for every near-dup scale path (MinHash LSH, prefix filter):
    each path must reproduce the brute-force answer at its threshold."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
      list_distinct(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
    ELSE [array_to_string(t, ' ')] END AS s
  FROM toks
)
SELECT id_a, id_b, round(j, 4) AS jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(a.s || b.s)) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
) WHERE j >= {threshold}
"""


DOCS_MINHASH_ORACLE = _all_pairs_jaccard_oracle(0.8)


# --------------------------------------------------------------------------
# docs_ngram_jaccard_dedup — the DETERMINISTIC near-dup scale path:
# exact n-gram Jaccard similarity join via prefix filtering (SSJoin/
# PPJoin family) — complete by construction, no LSH recall epsilon.
# Run at 0.7 (below the LSH sweet spot) where longer prefixes exercise
# the size + positional filters; the oracle is the same brute-force
# all-pairs computation at that threshold.
# --------------------------------------------------------------------------


def docs_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_prefix_pairs

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_prefix_pairs(
        docs, id_col="doc_id", text_col="text", threshold=0.7
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 4).alias("jaccard")
    )


DOCS_NGRAM_JACCARD_ORACLE = _all_pairs_jaccard_oracle(0.7)


# --------------------------------------------------------------------------
# docs_dedup_clusters — the stage AFTER pair finding: connected
# components over the near-dup graph, yielding the (doc_id, cluster_id)
# assignment a dedup pipeline acts on (keep cluster_id == doc_id, drop
# the rest). Spark side: banded-LSH pairs (exact-verified) -> min-label
# propagation to fixpoint (operators.dedup.connected_components); the
# oracle computes the same components INDEPENDENTLY via a recursive-CTE
# transitive closure over the brute-force pair set — agreement pins
# both the pair stage and the iterative clustering.
# --------------------------------------------------------------------------


def docs_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components, minhash_near_dup_pairs

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(docs, id_col="doc_id", text_col="text", threshold=0.8)
    return connected_components(pairs).orderBy("doc_id")


DOCS_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_all_pairs_jaccard_oracle(0.8)}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
walk(node, reach) AS (
  SELECT u, u FROM edges
  UNION
  SELECT w.node, e.v FROM walk w JOIN edges e ON e.u = w.reach
)
SELECT node AS doc_id, CAST(MIN(reach) AS BIGINT) AS cluster_id
FROM walk GROUP BY node ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# docs_bm25_search — Okapi BM25 top-k retrieval over the documents
# table (operators/retrieval): lexical ranking against a probe query,
# the operator curation pipelines use for topical filtering /
# contamination checks. Spark: explode+groupBy term stats with the
# query-term filter BEFORE the shuffle, broadcast df/corpus frames,
# codegen'd score. Oracle: the identical formula in DuckDB SQL.
# --------------------------------------------------------------------------

_BM25_QUERY = "fast merge spark window"
_BM25_K1, _BM25_B = 1.2, 0.75


def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_QUERY, k=10, k1=_BM25_K1, b=_BM25_B)


DOCS_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS t
  FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
), corpus AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
), qtf AS (
  SELECT doc_id, t, count(*) AS tf FROM toks
  WHERE t IN ('fast', 'merge', 'spark', 'window')
  GROUP BY doc_id, t
), dfreq AS (
  SELECT t, count(*) AS df FROM qtf GROUP BY t
)
SELECT doc_id, round(sum(
         ln(1 + (c.n - f.df + 0.5) / (f.df + 0.5))
         * q.tf * ({_BM25_K1} + 1)
         / (q.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * d.dl / c.avgdl))
       ), 4) AS bm25
FROM qtf q JOIN dfreq f USING (t) JOIN dl d USING (doc_id), corpus c
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


# --------------------------------------------------------------------------
# docs_trigram_lm_score — corpus-trained character-trigram LM average
# log-likelihood per document (the dependency-free stand-in for the
# KenLM perplexity filters of CCNet/Gopher-class pipelines). Model and
# scoring are both derived in-query; DuckDB trains the identical model
# independently, pinning the explode/count/join machinery end-to-end.
# Bottom-20 by avg_logprob = "most surprising documents", the rows a
# quality filter would cut first.
# --------------------------------------------------------------------------


def docs_trigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import trigram_lm_scores

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    return (
        trigram_lm_scores(docs)
        .orderBy(F.col("avg_logprob").asc(), F.col("doc_id"))
        .limit(20)
    )


DOCS_TRIGRAM_LM_ORACLE = """
WITH tris AS (
  SELECT doc_id, unnest(list_transform(range(1, length(text) - 1),
                                       i -> substr(text, i, 3))) AS tri
  FROM documents WHERE length(text) >= 3
), c3 AS (
  SELECT tri, count(*) AS n3 FROM tris GROUP BY tri
), c2 AS (
  SELECT substr(tri, 1, 2) AS bi, sum(n3) AS n2 FROM c3 GROUP BY bi
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       round(avg(ln(n3 * 1.0 / n2)), 4) AS avg_logprob
FROM tris JOIN c3 USING (tri) JOIN c2 ON substr(tri, 1, 2) = c2.bi
GROUP BY doc_id
ORDER BY avg_logprob ASC, doc_id
LIMIT 20
"""


# --------------------------------------------------------------------------
# docs_bm25_batch — per-query top-k BM25 over a query TABLE
# (operators/retrieval.bm25_topk_batch): the contamination-check shape
# curation pipelines run (every eval prompt vs the corpus), r7 verdict
# #8. Spark: corpus term stats computed ONCE for the union of query
# terms (broadcast-semi-join pruned BEFORE the shuffle), per-query
# fan-out on the broadcast query-term list, ranking window for top-k.
# Oracle: the identical per-query formula in DuckDB over the same
# literal query table.
# --------------------------------------------------------------------------

_BM25_BATCH_QUERIES = [
    (1, "fast merge spark window"),
    (2, "hash join table"),
    (3, "slow scan value batch"),
]


def docs_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_topk_batch

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_BM25_BATCH_QUERIES, "query_id long, query string")
    return bm25_topk_batch(
        docs, queries, k=5, k1=_BM25_K1, b=_BM25_B
    ).orderBy("query_id", F.col("bm25").desc(), "doc_id")


_BM25_BATCH_VALUES = ", ".join(f"({i}, '{q}')" for i, q in _BM25_BATCH_QUERIES)

DOCS_BM25_BATCH_ORACLE = f"""
WITH queries(query_id, query) AS (VALUES {_BM25_BATCH_VALUES}),
qterms AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split_regex(lower(query), '\\s+'), x -> x <> '')) AS t
  FROM queries
), toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS t
  FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
), corpus AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
), qtf AS (
  SELECT doc_id, t, count(*) AS tf FROM toks
  WHERE t IN (SELECT DISTINCT t FROM qterms)
  GROUP BY doc_id, t
), dfreq AS (
  SELECT t, count(*) AS df FROM qtf GROUP BY t
), scored AS (
  SELECT qt.query_id, q.doc_id, round(sum(
           ln(1 + (c.n - f.df + 0.5) / (f.df + 0.5))
           * q.tf * ({_BM25_K1} + 1)
           / (q.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * d.dl / c.avgdl))
         ), 4) AS bm25
  FROM qtf q JOIN dfreq f USING (t) JOIN dl d USING (doc_id)
       JOIN qterms qt USING (t), corpus c
  GROUP BY qt.query_id, q.doc_id
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY bm25 DESC, doc_id
  ) AS rn FROM scored
)
SELECT query_id, doc_id, bm25 FROM ranked WHERE rn <= 5
ORDER BY query_id, bm25 DESC, doc_id
"""


# --------------------------------------------------------------------------
# docs_normalized — Unicode text normalization
# (operators/textstats.normalize_text): NFC + control strip +
# whitespace squash + trim, the pre-tokenize cleanup of every corpus
# pipeline. The testdata text is ASCII, so each doc is augmented
# IN-PLAN with a deterministic suffix of decomposed accents (NFD
# e+U+0301, i+U+0308), a control byte, and ragged whitespace — built
# from the same Python constant on both sides — and the gate compares
# md5(normalized) per doc: any divergence in normalization form,
# strip class, squash, or ordering hash-mismatches.
# --------------------------------------------------------------------------

# Decomposed accents so NFC composition does real work; BEL control
# char; tab + doubled spaces for the squash.
_NORM_SUFFIX = " cafe\u0301\t\x07 nai\u0308ve  "


def docs_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textstats import normalize_text

    _utc(spark)
    docs = load(spark, sf_dir, "documents").withColumn(
        "text", F.concat(F.col("text"), F.lit(_NORM_SUFFIX))
    )
    return (
        normalize_text(docs)
        .select(
            "doc_id",
            F.md5("text_norm").alias("norm_hash"),
            F.length("text_norm").alias("n_chars_norm"),
        )
        .orderBy("doc_id")
    )


DOCS_NORMALIZED_ORACLE = f"""
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(
           nfc_normalize(text || '{_NORM_SUFFIX}'),
           '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
           '\\s+', ' ', 'g')) AS t
  FROM documents
)
SELECT doc_id, md5(t) AS norm_hash, CAST(length(t) AS INT) AS n_chars_norm
FROM n ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# docs_simhash_md5 — engine-portable SimHash fingerprints
# (operators/dedup.simhash_md5): the md5-based twin of the xxhash64
# fast path, published when a DIFFERENT system must reproduce the
# fingerprint. Strongest possible gate for a fingerprint operator:
# DuckDB re-derives every 60-bit fingerprint independently (same
# shingles, same md5-prefix hash, same bit votes) and the values must
# hash-match EXACTLY per document.
# --------------------------------------------------------------------------


def docs_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_md5

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    return simhash_md5(docs).orderBy("doc_id")


def _simhash_oracle() -> str:
    from ..operators.dedup import SIMHASH_MD5_BITS

    votes = ", ".join(
        f"SUM(CASE WHEN (hv >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS v{k}"
        for k in range(SIMHASH_MD5_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{k} > 0 THEN (CAST(1 AS BIGINT) << {k}) ELSE 0 END"
        for k in range(SIMHASH_MD5_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(CASE WHEN len(ts) >= 2
      THEN list_transform(range(1, len(ts)), i -> array_to_string(ts[i:i+1], ' '))
      ELSE [array_to_string(ts, ' ')] END) AS g FROM toks)
), h AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS hv FROM sh),
v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM v ORDER BY doc_id
"""


DOCS_SIMHASH_ORACLE = _simhash_oracle()


# --------------------------------------------------------------------------
# docs_stratified_sample — per-stratum deterministic sampling
# (operators/sampling.stratified_sample): the corpus-mix rebalancing
# step (downsample the dominant language, keep all of the rare ones).
# Membership is a pure function of (content md5, per-stratum integer
# threshold) — no shuffle, no join, engine-portable — so DuckDB
# restates the identical CASE thresholds and the group counts must
# hash-match exactly.
# --------------------------------------------------------------------------

_STRATA_FRACS = {"en": 0.5, "de": 1.0, "zh": 0.25}
_STRATA_DEFAULT = 0.75


def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_sample

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs, "lang", _STRATA_FRACS, key_col="text", default_frac=_STRATA_DEFAULT
    )
    return (
        kept.groupBy("lang").agg(F.count("*").alias("n_docs")).orderBy("lang")
    )


_STRATA_CASE = " ".join(
    f"WHEN '{k}' THEN {int(v * 65536)}" for k, v in sorted(_STRATA_FRACS.items())
)

DOCS_STRATIFIED_ORACLE = f"""
SELECT lang, count(*) AS n_docs
FROM documents
WHERE CAST('0x' || substr(md5(text), 1, 4) AS INTEGER) <
      CASE lang {_STRATA_CASE} ELSE {int(_STRATA_DEFAULT * 65536)} END
GROUP BY lang
ORDER BY lang
"""


# --------------------------------------------------------------------------
# docs_decontamination — exact n-gram eval-overlap check
# (operators/decontam.ngram_contamination): the GPT-3/PaLM-style
# pre-training scrub. An eval set is carved from the documents table
# (doc_id % 97 == 0) so both engines derive it identically; the Spark
# plan broadcasts the eval grams and kills non-colliding corpus grams
# MAP-SIDE before the only shuffle (the per-pair count). Oracle:
# identical n-gram construction and join in DuckDB.
# --------------------------------------------------------------------------

_DECONTAM_N = 3
_DECONTAM_MOD = 97


def docs_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontam import ngram_contamination

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % _DECONTAM_MOD == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    corpus = docs.filter(F.col("doc_id") % _DECONTAM_MOD != 0)
    return ngram_contamination(corpus, ev, n=_DECONTAM_N).orderBy("doc_id", "eval_id")


DOCS_DECONTAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ts
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(ts) >= {_DECONTAM_N}
           THEN list_transform(range(1, len(ts) - {_DECONTAM_N} + 2),
                               i -> array_to_string(ts[i:i+{_DECONTAM_N - 1}], ' '))
           ELSE [array_to_string(ts, ' ')] END) AS g
    FROM toks)
), ev AS (SELECT doc_id AS eval_id, g FROM grams WHERE doc_id % {_DECONTAM_MOD} = 0),
   corp AS (SELECT doc_id, g FROM grams WHERE doc_id % {_DECONTAM_MOD} <> 0)
SELECT c.doc_id, e.eval_id, CAST(count(*) AS BIGINT) AS n_shared
FROM corp c JOIN ev e USING (g)
GROUP BY c.doc_id, e.eval_id
ORDER BY c.doc_id, e.eval_id
"""


# --------------------------------------------------------------------------
# docs_curation_v2 — the ROUND-8 operator families composed into one
# pipeline with ONE oracle over all of it: normalize (X102) →
# exact-dedup on the canonical text → n-gram decontamination vs an
# in-plan eval set (X98) → stratified corpus-mix rebalance (X99) →
# per-language accounting. Each stage is individually gated; this row
# pins their COMPOSITION (column threading, stage ordering, and the
# interaction of canonical text with hashing-based stages).
# --------------------------------------------------------------------------


def docs_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontam import contaminated_ids
    from ..operators.dedup import _materialize
    from ..operators.sampling import stratified_sample
    from ..operators.textstats import normalize_text

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    # Materialize the normalized frame FIRST: it feeds both the
    # dedup-keep aggregate and the semi-join's left side, so an
    # unpinned plan runs the normalize pandas_udf twice (r17: one
    # full extra Arrow round-trip over the corpus).
    normed = _materialize(
        normalize_text(docs).select("doc_id", "lang", "text_norm"), None
    )
    # Exact dedup on the CANONICAL text: keep the min doc_id per form.
    # Materialized once — three downstream branches would otherwise
    # re-run the normalize pandas_udf + dedup shuffle each (r9; same
    # policy as v3).
    keep = normed.groupBy("text_norm").agg(F.min("doc_id").alias("doc_id"))
    deduped = _materialize(
        normed.join(keep.select("doc_id"), "doc_id", "left_semi"), None
    )
    # Decontaminate the corpus against the in-plan eval slice.
    ev = deduped.filter(F.col("doc_id") % _DECONTAM_MOD == 0).select(
        F.col("doc_id").alias("eval_id"), F.col("text_norm")
    )
    corpus = deduped.filter(F.col("doc_id") % _DECONTAM_MOD != 0)
    bad = contaminated_ids(
        corpus, ev, n=_DECONTAM_N, text_col="text_norm", eval_text_col="text_norm"
    )
    clean = corpus.join(bad, "doc_id", "left_anti")
    # Rebalance the language mix on the canonical text.
    sampled = stratified_sample(
        clean, "lang", _STRATA_FRACS, key_col="text_norm",
        default_frac=_STRATA_DEFAULT,
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text_norm")).alias("sum_chars"),
        )
        .orderBy("lang")
    )


DOCS_CURATION_V2_ORACLE = f"""
WITH n AS (
  SELECT doc_id, lang,
         trim(regexp_replace(regexp_replace(nfc_normalize(text),
           '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
           '\\s+', ' ', 'g')) AS t
  FROM documents
), keep AS (
  SELECT min(doc_id) AS doc_id FROM n GROUP BY t
), d AS (
  SELECT n.* FROM n JOIN keep USING (doc_id)
), toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(t), '\\s+'), x -> x <> '') AS ts
  FROM d
), grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(ts) >= {_DECONTAM_N}
           THEN list_transform(range(1, len(ts) - {_DECONTAM_N} + 2),
                               i -> array_to_string(ts[i:i+{_DECONTAM_N - 1}], ' '))
           ELSE [array_to_string(ts, ' ')] END) AS g
    FROM toks)
), contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, g FROM grams WHERE doc_id % {_DECONTAM_MOD} <> 0) c
  JOIN (SELECT g FROM grams WHERE doc_id % {_DECONTAM_MOD} = 0) e USING (g)
), sampled AS (
  SELECT * FROM d
  WHERE doc_id % {_DECONTAM_MOD} <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    AND CAST('0x' || substr(md5(t), 1, 4) AS INTEGER) <
        CASE lang {_STRATA_CASE} ELSE {int(_STRATA_DEFAULT * 65536)} END
)
SELECT lang, count(*) AS n_docs, CAST(sum(length(t)) AS BIGINT) AS sum_chars
FROM sampled GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# docs_curation_v3 — v2's composition plus the QUALITY-FLOOR stage
# pinned INSIDE the pipeline (r8 verdict #10): normalize →
# exact-dedup → decontaminate → corpus-trained trigram-LM floor (the
# KenLM-perplexity-filter stand-in, fixed literal threshold) →
# stratified rebalance, all under ONE oracle. The LM trains on the
# post-dedup post-decontamination corpus — exactly the data that
# survives to training — so the floor's statistics shift with every
# upstream stage, which is what makes composing it a real gate.
# --------------------------------------------------------------------------

_QUALITY_FLOOR_LP = -0.80


def docs_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontam import contaminated_ids
    from ..operators.dedup import _materialize
    from ..operators.sampling import stratified_sample
    from ..operators.textstats import normalize_text, trigram_lm_scores

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    # Materialized FIRST: `normed` feeds both the keep aggregate and
    # the semi-join's left side — unpinned, the normalize pandas_udf
    # runs twice (r17; one full extra Arrow pass over the corpus).
    normed = _materialize(
        normalize_text(docs).select("doc_id", "lang", "text_norm"), None
    )
    keep = normed.groupBy("text_norm").agg(F.min("doc_id").alias("doc_id"))
    # The deduped frame feeds FOUR consumers (eval slice, decontam
    # corpus side, LM training/scoring, rebalance): materialize once so
    # the normalize pandas_udf + dedup shuffle don't re-execute per
    # branch (same multi-branch-reuse policy as the similarity joins).
    deduped = _materialize(
        normed.join(keep.select("doc_id"), "doc_id", "left_semi"), None
    )
    ev = deduped.filter(F.col("doc_id") % _DECONTAM_MOD == 0).select(
        F.col("doc_id").alias("eval_id"), F.col("text_norm")
    )
    corpus = deduped.filter(F.col("doc_id") % _DECONTAM_MOD != 0)
    bad = contaminated_ids(
        corpus, ev, n=_DECONTAM_N, text_col="text_norm", eval_text_col="text_norm"
    )
    clean = _materialize(corpus.join(bad, "doc_id", "left_anti"), None)
    # Quality floor: LM trained on the surviving corpus itself; docs
    # under the floor (or too short to score) are cut.
    scores = trigram_lm_scores(clean, text_col="text_norm")
    good = scores.filter(
        F.col("avg_logprob") >= F.lit(_QUALITY_FLOOR_LP)
    ).select("doc_id")
    floored = clean.join(good, "doc_id", "left_semi")
    sampled = stratified_sample(
        floored, "lang", _STRATA_FRACS, key_col="text_norm",
        default_frac=_STRATA_DEFAULT,
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text_norm")).alias("sum_chars"),
        )
        .orderBy("lang")
    )


DOCS_CURATION_V3_ORACLE = f"""
WITH n AS (
  SELECT doc_id, lang,
         trim(regexp_replace(regexp_replace(nfc_normalize(text),
           '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
           '\\s+', ' ', 'g')) AS t
  FROM documents
), keep AS (
  SELECT min(doc_id) AS doc_id FROM n GROUP BY t
), d AS (
  SELECT n.* FROM n JOIN keep USING (doc_id)
), toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(t), '\\s+'), x -> x <> '') AS ts
  FROM d
), grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(ts) >= {_DECONTAM_N}
           THEN list_transform(range(1, len(ts) - {_DECONTAM_N} + 2),
                               i -> array_to_string(ts[i:i+{_DECONTAM_N - 1}], ' '))
           ELSE [array_to_string(ts, ' ')] END) AS g
    FROM toks)
), contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, g FROM grams WHERE doc_id % {_DECONTAM_MOD} <> 0) c
  JOIN (SELECT g FROM grams WHERE doc_id % {_DECONTAM_MOD} = 0) e USING (g)
), clean AS (
  SELECT * FROM d
  WHERE doc_id % {_DECONTAM_MOD} <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
), ctris AS (
  SELECT doc_id, unnest(list_transform(range(1, length(t) - 1),
                                       i -> substr(t, i, 3))) AS tri
  FROM clean WHERE length(t) >= 3
), cc3 AS (
  SELECT tri, count(*) AS n3 FROM ctris GROUP BY tri
), cc2 AS (
  SELECT substr(tri, 1, 2) AS bi, sum(n3) AS n2 FROM cc3 GROUP BY bi
), good AS (
  SELECT doc_id
  FROM ctris JOIN cc3 USING (tri) JOIN cc2 ON substr(tri, 1, 2) = cc2.bi
  GROUP BY doc_id
  HAVING round(avg(ln(n3 * 1.0 / n2)), 4) >= {_QUALITY_FLOOR_LP}
), sampled AS (
  SELECT * FROM clean
  WHERE doc_id IN (SELECT doc_id FROM good)
    AND CAST('0x' || substr(md5(t), 1, 4) AS INTEGER) <
        CASE lang {_STRATA_CASE} ELSE {int(_STRATA_DEFAULT * 65536)} END
)
SELECT lang, count(*) AS n_docs, CAST(sum(length(t)) AS BIGINT) AS sum_chars
FROM sampled GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# docs_stratified_cap — absolute per-stratum cap
# (operators/sampling.stratified_cap, r8 verdict #6): "no domain
# contributes more than N documents", the long-tail balancing move.
# Selection ranks each stratum by (portable md5 bucket, text) — a pure
# function of the data — so DuckDB restates the identical row_number
# window. Aggregates are tie-safe: rows interchangeable under a
# duplicate (bucket, text) key have identical text, so count and
# sum(length) are deterministic on both engines.
# --------------------------------------------------------------------------

_CAP_MAX_ROWS = 100


def docs_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_cap

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    capped = stratified_cap(docs, "lang", _CAP_MAX_ROWS, key_col="text")
    return (
        capped.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("sum_chars"),
        )
        .orderBy("lang")
    )


DOCS_STRATIFIED_CAP_ORACLE = f"""
SELECT lang, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS sum_chars
FROM (
  SELECT lang, text, row_number() OVER (
    PARTITION BY lang
    ORDER BY CAST('0x' || substr(md5(text), 1, 4) AS INTEGER), text) AS rn
  FROM documents)
WHERE rn <= {_CAP_MAX_ROWS}
GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# docs_domain_mix — deterministic domain-MIXTURE resampling (r14): the
# data-mixing step of an LLM pipeline (DoReMi-style static weights):
# compose a corpus-sized mix at parts en:30 de:35 zh:25 fr:10 (es
# drops), UP-sampling scarce domains as whole epochs + a
# hash-thresholded fractional tail and DOWN-sampling abundant ones.
# Integer-part weights make the policy exact BIGINT arithmetic the
# oracle re-derives; replication goes through explode(sequence) — no
# UDF, no shuffle beyond the O(domains) count.
# --------------------------------------------------------------------------

_MIX_PARTS = {"en": 30, "de": 35, "zh": 25, "fr": 10}


def docs_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import mixture_resample

    _utc(spark)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    mixed = mixture_resample(
        docs, "lang", _MIX_PARTS, total_rows=docs.count(), key_col="text"
    )
    return mixed.select("doc_id", "lang", "epoch")


DOCS_DOMAIN_MIX_ORACLE = """
WITH n AS (SELECT count(*) AS total FROM documents),
c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
w(lang, parts) AS (VALUES ('en', 30), ('de', 35), ('zh', 25), ('fr', 10)),
p AS (
  SELECT c.lang,
         (w.parts::BIGINT * n.total) // (100 * c.cnt) AS copies,
         (((w.parts::BIGINT * n.total) % (100 * c.cnt)) * 65536)
           // (100 * c.cnt) AS tail
  FROM c JOIN w USING (lang) CROSS JOIN n
),
sel AS (
  SELECT d.doc_id, d.lang,
         p.copies + CASE WHEN CAST('0x' || substr(md5(d.text), 1, 4) AS INTEGER)
                              < p.tail THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN p USING (lang)
)
SELECT doc_id, lang, CAST(u.epoch AS INT) AS epoch
FROM sel, unnest(range(1, n_copies + 1)) AS u(epoch)
"""


# --------------------------------------------------------------------------
# emb_pca_knn — PCA projection gated EXACTLY (r8 verdict #4): with
# k = dim, the centered orthonormal projection preserves pairwise L2
# distances, so L2-kNN over PROJECTED vectors must equal brute-force
# L2-kNN over the originals — which DuckDB states directly. The gate
# proves the train-driver-side/apply-executor-side machinery (bounded
# sample collect, batch matmul pandas_udf) loses nothing; the
# production path picks k << dim for the ANN pre-reduction.
# --------------------------------------------------------------------------


def emb_pca_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pca_project

    _utc(spark)
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    dim = len(emb.select("embedding").first()[0])
    proj, _comps, _mean = pca_project(
        emb, k=dim, id_col="vec_id", vec_col="embedding", sample_rows=20_000
    )
    query = proj.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_vec")
    )
    cand = proj.filter(F.col("vec_id") != 0)
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("embedding"), F.col("q_vec"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        cand.crossJoin(F.broadcast(query))
        .withColumn("_d", dist)
        .orderBy(F.col("_d").asc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", F.round(F.col("_d"), 4).alias("l2_dist"))
    )


EMB_PCA_KNN_ORACLE = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_vec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, round(d, 4) AS l2_dist
FROM (
  SELECT e.vec_id,
         sqrt(list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), q.q_vec),
                                      p -> (p[1] - p[2]) * (p[1] - p[2])))) AS d
  FROM embeddings e, q
  WHERE e.vec_id <> 0
) ORDER BY d ASC, vec_id LIMIT 10
"""


# --------------------------------------------------------------------------
# docs_multimodal_stats — the multimodal binary-column dataflow gated
# end-to-end (r7 verdict #7): deterministic BMP/WAV payloads are
# SYNTHESIZED IN-PLAN from the documents table (Arrow-batched
# pandas_udf building real file bytes executor-side), decoded by the
# dependency-free header parsers via the 'auto' format sniffer
# (mapInPandas), and aggregated per detected format. The DuckDB oracle
# states the same header arithmetic (BMP row padding, WAV duration
# formula) over the same deterministic parameterization — so a decoder
# that mis-parses any field hash-mismatches.
# --------------------------------------------------------------------------


def docs_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_media, synthesize_media

    _utc(spark)
    docs = load(spark, sf_dir, "documents").select("doc_id")
    params = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("bmp")).otherwise(F.lit("wav")).alias("kind"),
        (F.col("doc_id") % 13 + 1).alias("width"),
        (F.col("doc_id") % 7 + 1).alias("height"),
        (F.col("doc_id") % 2 + 1).alias("n_channels"),
        F.lit(8000).alias("sample_rate"),
        ((F.col("doc_id") % 40 + 1) * 4).alias("data_size"),
    )
    media = synthesize_media(params).select("media_id", "payload")
    decoded = decode_media(media, decoder="auto")
    return (
        decoded.groupBy("format")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.coalesce(F.col("width"), F.lit(0))).alias("sum_width"),
            F.sum(F.coalesce(F.col("height"), F.lit(0))).alias("sum_height"),
            F.sum(F.coalesce(F.col("sample_rate"), F.lit(0))).alias("sum_rate"),
            F.sum(F.coalesce(F.col("duration_ms"), F.lit(0))).alias("sum_duration_ms"),
            F.sum("n_bytes").alias("sum_bytes"),
            F.sum(F.coalesce(F.col("bits_per_sample"), F.lit(0))).alias("sum_bits"),
        )
        .orderBy("format")
    )


DOCS_MULTIMODAL_ORACLE = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
         doc_id % 13 + 1 AS w,
         doc_id % 7 + 1 AS h,
         doc_id % 2 + 1 AS ch,
         (doc_id % 40 + 1) * 4 AS ds
  FROM documents
)
SELECT format,
       count(*) AS n_items,
       CAST(sum(CASE WHEN format = 'bmp' THEN w ELSE 0 END) AS BIGINT) AS sum_width,
       CAST(sum(CASE WHEN format = 'bmp' THEN h ELSE 0 END) AS BIGINT) AS sum_height,
       CAST(sum(CASE WHEN format = 'wav' THEN 8000 ELSE 0 END) AS BIGINT) AS sum_rate,
       CAST(sum(CASE WHEN format = 'wav' THEN ds // (ch * 16) ELSE 0 END) AS BIGINT)
         AS sum_duration_ms,
       CAST(sum(CASE WHEN format = 'bmp'
                     THEN 14 + 40 + ((w * 3 + 3) // 4) * 4 * h
                     ELSE 44 + ds END) AS BIGINT) AS sum_bytes,
       CAST(sum(CASE WHEN format = 'bmp' THEN 24 ELSE 16 END) AS BIGINT) AS sum_bits
FROM m GROUP BY format ORDER BY format
"""


# --------------------------------------------------------------------------
# docs_pack_sequences — greedy context-window packing (the step that
# turns a curated corpus into training batches; padding waste is the
# tuned metric). A sequential fold cannot be one window function, so
# the corpus shuffles ONCE on a hash bucket and each bucket folds
# inside applyInPandas — embarrassingly parallel across buckets. The
# oracle restates the identical greedy fold as a DuckDB RECURSIVE CTE
# advancing all buckets in lockstep (one row per bucket per step), so
# any divergence in bucket hashing, ordering, or the fold's boundary
# rule (oversize docs get their own bin) hash-mismatches.
# --------------------------------------------------------------------------

_PACK_CAPACITY = 512
_PACK_BUCKETS = 8


def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_sequences, packing_stats

    _utc(spark)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    packed = pack_sequences(
        docs, capacity=_PACK_CAPACITY, n_buckets=_PACK_BUCKETS
    )
    return packing_stats(packed, _PACK_CAPACITY).orderBy("bucket", "bin")


DOCS_PACK_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, CAST(doc_id % {_PACK_BUCKETS} AS INTEGER) AS bucket,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
              AS BIGINT) AS n
  FROM documents
), ord AS (
  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM toks
), pack AS (
  SELECT bucket, rn, doc_id, n, CAST(0 AS BIGINT) AS bin, n AS fill
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.bucket, o.rn, o.doc_id, o.n,
         CASE WHEN p.fill > 0 AND p.fill + o.n > {_PACK_CAPACITY}
              THEN p.bin + 1 ELSE p.bin END,
         CASE WHEN p.fill > 0 AND p.fill + o.n > {_PACK_CAPACITY}
              THEN o.n ELSE p.fill + o.n END
  FROM pack p JOIN ord o ON o.bucket = p.bucket AND o.rn = p.rn + 1
)
SELECT bucket, bin, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens,
       round(greatest(0.0, 1.0 - sum(n) / {_PACK_CAPACITY}.0), 4) AS padding_frac
FROM pack GROUP BY bucket, bin ORDER BY bucket, bin
"""


# --------------------------------------------------------------------------
# docs_chunking — fixed-size overlapping character windows (the
# intra-document half packing leaves to "the tokenizer"; RAG indexing
# and long-document pretraining both need it). Spark-first: chunk
# count is one integer expression, ids come from explode(sequence),
# the slice is codegen'd substr — no UDF. The oracle re-derives every
# chunk via a LATERAL generate_series + identical integer arithmetic
# and md5-hashes the ordered chunk concatenation per document, so a
# one-character boundary drift anywhere mismatches.
# --------------------------------------------------------------------------

_CHUNK_SIZE = 200
_CHUNK_OVERLAP = 40


def docs_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import chunk_documents

    _utc(spark)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    ch = chunk_documents(
        docs, "text", size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
    )
    return ch.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("chunk_len").cast("long").alias("chunk_chars"),
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", "chunk"))
                    ),
                    lambda s: s["chunk"],
                ),
            )
        ).alias("chunks_md5"),
    )


_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP
DOCS_CHUNKING_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text,
         CAST((greatest(length(text) - {_CHUNK_SIZE}, 0)
               + {_CHUNK_STRIDE - 1}) // {_CHUNK_STRIDE} AS BIGINT) AS max_id
  FROM documents
), ids AS (
  SELECT doc_id, text,
         unnest(generate_series(0, max_id)) AS chunk_id
  FROM base
), ch AS (
  SELECT doc_id, chunk_id,
         substr(text, CAST(chunk_id * {_CHUNK_STRIDE} + 1 AS BIGINT),
                {_CHUNK_SIZE}) AS chunk
  FROM ids
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(length(chunk)) AS BIGINT) AS chunk_chars,
       md5(string_agg(chunk, '|' ORDER BY chunk_id)) AS chunks_md5
FROM ch GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# emb_semantic_dedup — SemDeDup-style corpus pruning: frozen centroids
# (the first 4 vectors — deterministic and data-derived), nearest-
# centroid assignment by cosine (tie -> lowest centroid id), then drop
# every vector with a LOWER-ID neighbor at cosine >= t in the same
# cluster. The oracle re-derives assignment AND the keep-first rule as
# plain SQL (ranking window + NOT EXISTS), so a drift in either the
# clustering or the pair pruning is a wrong answer. Scale: the pair
# join shuffles on the cluster id, so the quadratic stays per-cluster
# (sum-of-squares, not corpus^2) — SemDeDup's design point.
# --------------------------------------------------------------------------

_SEMDEDUP_T = 0.3
_SEMDEDUP_K = 4


def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.semdedup import semantic_dedup

    _utc(spark)
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents = emb.filter(F.col("vec_id") < _SEMDEDUP_K).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    kept = semantic_dedup(emb, threshold=_SEMDEDUP_T, centroids=cents)
    return kept.groupBy("cluster").agg(
        F.count("*").alias("n_kept"),
        F.sum("vec_id").cast("long").alias("kept_id_sum"),
        F.min("vec_id").cast("long").alias("first_kept"),
    )


EMB_SEMDEDUP_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cents AS (
  SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < {_SEMDEDUP_K}
), scored AS (
  SELECT e.vec_id, e.v, c.c_id,
         list_dot_product(e.v, c.cv)
           / (sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(c.cv, c.cv))) AS s
  FROM e CROSS JOIN cents c
), assign AS (
  SELECT vec_id, v, c_id AS cluster FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY s DESC, c_id) AS rn
    FROM scored
  ) WHERE rn = 1
), kept AS (
  SELECT a.* FROM assign a
  WHERE NOT EXISTS (
    SELECT 1 FROM assign b
    WHERE b.cluster = a.cluster AND b.vec_id < a.vec_id
      AND list_dot_product(b.v, a.v)
            / (sqrt(list_dot_product(b.v, b.v))
               * sqrt(list_dot_product(a.v, a.v))) >= {_SEMDEDUP_T}
  )
)
SELECT cluster,
       count(*) AS n_kept,
       CAST(sum(vec_id) AS BIGINT) AS kept_id_sum,
       CAST(min(vec_id) AS BIGINT) AS first_kept
FROM kept GROUP BY cluster
"""


# --------------------------------------------------------------------------
# emb_knn_brute — brute-force cosine top-k over the embedding column:
# the exact baseline for approximate-nearest-neighbor (operators/similarity).
# Scale: the query vector broadcasts; similarity is a codegen'd
# higher-order-function expression over array<double>; top-k is
# TakeOrderedAndProject (no global sort).
# --------------------------------------------------------------------------

def emb_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    cand = emb.filter(F.col("vec_id") != 0)
    sims = cand.crossJoin(F.broadcast(query)).withColumn(
        "_sim", cosine_similarity_col(F.col("embedding"), F.col("q_vec"))
    )
    return (
        sims.orderBy(F.col("_sim").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", F.round(F.col("_sim"), 6).alias("cos_sim"))
    )


EMB_KNN_ORACLE = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_vec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, round(sim, 6) AS cos_sim
FROM (
  SELECT e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), q.q_vec)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(q.q_vec, q.q_vec))) AS sim
  FROM embeddings e, q
  WHERE e.vec_id <> 0
) ORDER BY sim DESC, vec_id LIMIT 10
"""


# --------------------------------------------------------------------------
# game_*_cdc_e2e — the reference's actual job, end-to-end (SURVEY §3.1 +
# §3.2): initial full load of the demo raw zone into a managed
# copy-on-write table, then the CDC batch applied via latest-record
# dedup + MERGE upsert + MERGE delete, then a snapshot read of final
# state. The DuckDB oracle implements latest-wins-then-delete over the
# same raw parquet. Exercises S1, S3, S4, W1, W5-W8, P2-P4, F1-F4, WF1,
# U1, A1, J1, O2 in one gate.
# user_data: unpartitioned, Op mix I/U/D = 46/52/2.
# item_data: hive-partitioned by category (partition-pruned merge with
# hard-link carry-forward), 13 in-batch duplicate keys (dedup tie-break).
# The raw zone is the reference's demo data where it is checked out,
# else the seeded FIXTURES.md zone (plans/demo_fixture.py). Resolved
# once at import: the Spark side and the oracle SQL built below must
# read the same directory.
# --------------------------------------------------------------------------

_DEMO_ROOT = demo_root()


def _game_cdc_final_state(spark: SparkSession, table: str, out_cols: list[str]) -> DataFrame:
    from datetime import datetime, timezone

    from ..catalog import Catalog
    from ..formats.parquet_cow import temp_warehouse
    from ..pipeline import cdc_load, initial_load
    from ..spec import GAME_SPECS_BY_NAME

    _utc(spark)
    spec = GAME_SPECS_BY_NAME[table]
    cat = Catalog(spark, temp_warehouse(prefix=f"tdl_e2e_{table}_"))
    initial_load(spark, cat, spec, _DEMO_ROOT)
    cdc_load(spark, cat, spec, _DEMO_ROOT, clock=datetime(2023, 9, 1, tzinfo=timezone.utc))
    final = cat.read_table(spec)
    # COALESCE to an epoch sentinel: null-free output hashes robustly
    # across Spark/DuckDB null representations (None vs NaT).
    return final.select(
        *out_cols,
        F.coalesce(
            F.col("last_applied_date").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("last_applied"),
    )


def game_user_cdc_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_cdc_final_state(
        spark,
        "user_data",
        ["user_id", "email", "gender", "cur_level", "marketing_agreement", "dob"],
    )


# --------------------------------------------------------------------------
# game_user_cdc_e2e_sqltext — the SAME reference job, but both merges
# driven as LITERAL SQL TEXT through sql.LakeSQL: ``MERGE INTO
# lake.game.user_data t USING src s ON s.pk = t.pk WHEN MATCHED THEN
# UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` then the DELETE shape —
# character-for-character the reference's statements
# (src/iceberg/iceberg-cdc-load.py:127-150). Same oracle as
# game_user_cdc_e2e: the text surface must be semantically identical to
# the API path (same dedup, same merge, same commit protocol).
# --------------------------------------------------------------------------


def game_user_cdc_e2e_sqltext(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timezone

    from ..catalog import Catalog
    from ..formats.parquet_cow import temp_warehouse
    from ..operators.cdc import (
        cast_envelope_timestamp,
        dedupe_latest,
        recombine_ops,
        split_ops,
        with_audit_column,
    )
    from ..pipeline import initial_load
    from ..spec import OP_COL, TS_COL, GAME_SPECS_BY_NAME
    from ..sql import LakeSQL

    _utc(spark)
    spec = GAME_SPECS_BY_NAME["user_data"]
    cat = Catalog(spark, temp_warehouse(prefix="tdl_e2e_sqltext_"))
    initial_load(spark, cat, spec, _DEMO_ROOT)

    batch = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{_DEMO_ROOT}/cdc-load/game/{spec.table_name}"
    )
    deduped = dedupe_latest(
        cast_envelope_timestamp(batch), key=spec.primary_key, ts_col=TS_COL, op_col=OP_COL
    )
    upserts, deletes = split_ops(recombine_ops(deduped))
    clock = datetime(2023, 9, 1, tzinfo=timezone.utc)
    with_audit_column(upserts.drop(OP_COL, TS_COL), clock).createOrReplaceTempView(
        "__sqltext_upserts"
    )
    deletes.select(spec.primary_key).createOrReplaceTempView("__sqltext_deletes")

    lake = LakeSQL(cat)
    lake.sql("""
        MERGE INTO lake.game.user_data t USING __sqltext_upserts s
        ON s.user_id = t.user_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    lake.sql("""
        MERGE INTO lake.game.user_data t USING __sqltext_deletes s
        ON s.user_id = t.user_id
        WHEN MATCHED THEN DELETE
    """)
    final = lake.sql("SELECT * FROM lake.game.user_data")
    return final.select(
        "user_id", "email", "gender", "cur_level", "marketing_agreement", "dob",
        F.coalesce(
            F.col("last_applied_date").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("last_applied"),
    )


# --------------------------------------------------------------------------
# game_user_cdc_e2e_{delta,iceberg,hudi} — the reference's ACTUAL jobs
# on REAL foreign tables: initial bulk load via write_{delta,iceberg,
# hudi}, the demo CDC batch applied with the format's keyed MERGE
# (merge_delta / merge_iceberg / write_hudi upsert+delete — the
# operations src/{delta,iceberg,hudi}/*-cdc-load.py run through the
# format jars), final state read back through the jar-less readers.
# Same oracle as the managed-pipeline gate — the table FORMAT must be
# analytically invisible to the reference's own job.
# --------------------------------------------------------------------------


def _game_user_e2e_foreign(spark: SparkSession, fmt: str) -> DataFrame:
    import tempfile
    from datetime import datetime, timezone

    from ..formats import interop
    from ..operators.cdc import (
        cast_envelope_timestamp,
        dedupe_latest,
        with_audit_column,
    )
    from ..spec import OP_COL, TS_COL, GAME_SPECS_BY_NAME

    _utc(spark)
    spec = GAME_SPECS_BY_NAME["user_data"]
    path = tempfile.mkdtemp(prefix=f"tdl_e2e_{fmt}_") + "/t"
    initial = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{_DEMO_ROOT}/initial-load/game/{spec.table_name}"
    ).withColumn("last_applied_date", F.lit(None).cast("timestamp"))

    batch = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{_DEMO_ROOT}/cdc-load/game/{spec.table_name}"
    )
    deduped = dedupe_latest(
        cast_envelope_timestamp(batch), key=spec.primary_key, ts_col=TS_COL,
        op_col=OP_COL,
    )
    clock = datetime(2023, 9, 1, tzinfo=timezone.utc)
    ups = with_audit_column(
        deduped.filter(F.col(OP_COL) != "D").drop(OP_COL, TS_COL), clock
    )
    dels = deduped.filter(F.col(OP_COL) == "D")
    cols = initial.columns
    pk = spec.primary_key

    if fmt == "delta":
        interop.write_delta(initial, path, mode="error")
        interop.merge_delta(ups.select(*cols), path, key=pk, mode="upsert")
        interop.merge_delta(dels.select(pk), path, key=pk, mode="delete")
        final = interop.read_delta(spark, path)
    elif fmt == "delta_dv":
        # Same job, but the table is DV-enabled and the merges retire
        # rows via DELETION VECTORS (merge-on-read; X127). The gate
        # pins the MECHANISM too: a silent fallback to rewrite would
        # make this a vacuous twin of the plain delta gate.
        import os as _os

        interop.write_delta(
            initial, path, mode="error",
            configuration={"delta.enableDeletionVectors": "true"},
        )
        interop.merge_delta(ups.select(*cols), path, key=pk, mode="upsert")
        interop.merge_delta(dels.select(pk), path, key=pk, mode="delete")
        if not any(
            f.startswith("deletion_vector_") for f in _os.listdir(path)
        ):
            raise AssertionError(
                "delta_dv e2e expected deletion-vector sidecars; the "
                "merges fell back to rewrite"
            )
        final = interop.read_delta(spark, path)
    elif fmt == "delta_evolve":
        # The reference's mid-stream schema evolution (SURVEY §1.3:
        # delta-initial-load.py:33 turns on Delta autoMerge because
        # the CDC stream adds last_applied_date after the initial
        # load): the table is created WITHOUT the column; the CDC
        # upsert carries it and merge_delta(evolve=True) commits the
        # schema evolution IN the merge commit. Pre-evolution rows
        # read the new column as null — the same analytic state as
        # the plain delta gate, which the shared oracle pins.
        interop.write_delta(
            initial.drop("last_applied_date"), path, mode="error"
        )
        interop.merge_delta(
            ups.select(*cols), path, key=pk, mode="upsert", evolve=True
        )
        interop.merge_delta(dels.select(pk), path, key=pk, mode="delete")
        final = interop.read_delta(spark, path)
        if "last_applied_date" not in final.columns:
            raise AssertionError(
                "evolve=True merge did not commit the new column"
            )
    elif fmt == "iceberg":
        interop.write_iceberg(initial, path, mode="error")
        interop.merge_iceberg(ups.select(*cols), path, key=pk, mode="upsert")
        interop.merge_iceberg(dels.select(pk), path, key=pk, mode="delete")
        final = interop.read_iceberg(spark, path)
    elif fmt == "iceberg_eqd":
        # The streaming-CDC delete shape (X_r11): upserts merge as
        # usual, but the deletes commit as EQUALITY DELETE files
        # (content=2, zero table scan — what a native Flink CDC writer
        # produces) via write_iceberg_equality_deletes; the snapshot
        # must read identically, and the shared oracle pins it.
        interop.write_iceberg(initial, path, mode="error")
        interop.merge_iceberg(ups.select(*cols), path, key=pk, mode="upsert")
        interop.write_iceberg_equality_deletes(dels.select(pk), path, pk)
        final = interop.read_iceberg(spark, path)
    elif fmt == "iceberg_mor":
        # Same job under the explicit merge-on-read strategy: matched
        # rows retire via content=1 POSITION DELETE files (X127); the
        # physical pin proves the mechanism engaged.
        import os as _os

        interop.write_iceberg(initial, path, mode="error")
        interop.merge_iceberg(
            ups.select(*cols), path, key=pk, mode="upsert", strategy="mor"
        )
        interop.merge_iceberg(
            dels.select(pk), path, key=pk, mode="delete", strategy="mor"
        )
        if not any(
            f.endswith("-deletes.parquet")
            for f in _os.listdir(_os.path.join(path, "data"))
        ):
            raise AssertionError(
                "iceberg_mor e2e expected position-delete files"
            )
        final = interop.read_iceberg(spark, path)
    elif fmt == "iceberg_v3dv":
        # r17: the SAME reference job on a FORMAT-VERSION 3 table —
        # initial load commits v2, upgrade_iceberg_v2_to_v3 (one
        # metadata-only commit), then the CDC batch applies as the v3
        # merge-on-read shape: matched keys retire via PUFFIN DELETION
        # VECTORS (write_iceberg_deletion_vectors — the second DV
        # commit exercises the spec's union/supersession rule), new
        # and updated rows land as a row-lineage-assigned append.
        # In-gate pins: v3 metadata with next-row-id tracking, a
        # .puffin file on disk, at most ONE live DV per data file.
        # Same oracle: the v3 mechanics must be analytically
        # invisible.
        import os as _os

        from ..formats.avro_lite import read_avro_file as _raf

        interop.write_iceberg(initial, path, mode="error")
        interop.upgrade_iceberg_v2_to_v3(path)
        interop.write_iceberg_deletion_vectors(ups.select(pk), path, keys=pk)
        interop.write_iceberg(ups.select(*cols), path, mode="append")
        interop.write_iceberg_deletion_vectors(dels.select(pk), path, keys=pk)
        _c3, meta3 = interop._iceberg_current_metadata_named(path)
        if int(meta3.get("format-version", 0)) != 3 or "next-row-id" not in meta3:
            raise AssertionError("iceberg_v3dv e2e expected v3 metadata")
        if not any(
            f.endswith(".puffin")
            for f in _os.listdir(_os.path.join(path, "data"))
        ):
            raise AssertionError("iceberg_v3dv e2e expected puffin DV files")
        snap3 = next(
            s for s in meta3["snapshots"]
            if s["snapshot-id"] == meta3["current-snapshot-id"]
        )
        _s3, mlist3 = _raf(
            interop._iceberg_local_path(snap3["manifest-list"], path)
        )
        _pf3, _eq3, dvs3 = interop._ice_collect_deletes(
            path,
            [
                (r["manifest_path"], int(r.get("sequence_number") or 0))
                for r in mlist3 if r.get("content", 0) == 1
            ],
        )
        refs3 = [r for r, _pp, _o, _s in dvs3]
        if len(refs3) != len(set(refs3)):
            raise AssertionError(
                "iceberg_v3dv e2e saw two live DVs for one data file "
                "(supersession rule violated)"
            )
        final = interop.read_iceberg(spark, path)
    elif fmt == "iceberg_days":
        # The reference's Iceberg HIDDEN-PARTITIONING context
        # (src/iceberg/iceberg-initial-load.py:64-71): the table is
        # PARTITIONED BY days(first_login) — a transform spec, no
        # user-visible partition column — and the full CDC pipeline
        # (transform-evaluated staging upsert, keyed MoR delete,
        # delete-file compaction, X139/r12) runs against it. The gate
        # pins the partition RECORDS: every live data file must hold
        # rows of exactly one first_login day equal to its manifest
        # record. Same oracle: hidden partitioning must be
        # analytically invisible.
        import os as _os

        from ..formats.avro_lite import read_avro_file

        interop.write_iceberg(
            initial, path, mode="error", partition_by=["days(first_login)"]
        )
        interop.merge_iceberg(ups.select(*cols), path, key=pk, mode="upsert")
        interop.merge_iceberg(
            dels.select(pk), path, key=pk, mode="delete", strategy="mor"
        )

        def _live_day_records() -> dict[str, int]:
            _c, meta = interop._iceberg_current_metadata_named(path)
            snap = next(
                s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"]
            )
            _s, mlist = read_avro_file(
                interop._iceberg_local_path(snap["manifest-list"], path)
            )
            recs: dict[str, int] = {}
            for rec in mlist:
                if rec.get("content", 0) != 0:
                    continue
                _s2, ents = read_avro_file(
                    interop._iceberg_local_path(rec["manifest_path"], path)
                )
                for e in ents:
                    if e.get("status", 1) == 2:
                        continue
                    ap = _os.path.abspath(
                        interop._iceberg_local_path(
                            e["data_file"]["file_path"], path
                        )
                    )
                    recs[ap] = e["data_file"]["partition"]["first_login_day"]
            return recs

        recs = _live_day_records()
        per_file = {
            r["fp"]: (r["ndays"], r["day"])
            for r in spark.read.parquet(*recs)
            .select(
                interop._norm_file_path(F.col("_metadata.file_path")).alias("fp"),
                F.datediff(
                    F.to_date("first_login"), F.lit("1970-01-01").cast("date")
                ).alias("d"),
            )
            .groupBy("fp")
            .agg(
                F.countDistinct("d").alias("ndays"), F.first("d").alias("day")
            )
            .collect()
        }
        for ap, rec_day in recs.items():
            ndays, day = per_file[ap]
            if ndays != 1 or day != rec_day:
                raise AssertionError(
                    f"file {ap} spans {ndays} days / day {day}, manifest "
                    f"record says {rec_day}"
                )
        if interop.compact_iceberg(spark, path) is None:
            raise AssertionError("iceberg_days e2e expected a compaction")
        final = interop.read_iceberg(spark, path)
    elif fmt == "hudi":
        interop.write_hudi(initial, path, record_key=pk, mode="bulk_insert")
        interop.write_hudi(ups.select(*cols), path, record_key=pk, mode="upsert")
        del_rows = (
            dels.drop(OP_COL, TS_COL)
            .withColumn("last_applied_date", F.lit(None).cast("timestamp"))
            .select(*cols)
        )
        interop.write_hudi(del_rows, path, record_key=pk, mode="delete")
        final = interop.read_hudi(spark, path)
    elif fmt == "hudi_mor":
        # Same job on a MERGE_ON_READ table (X129): the CDC batch
        # APPENDS log blocks (no base rewrite — physically pinned),
        # the merged snapshot must match the oracle BOTH before and
        # after compaction folds the logs into new base slices.
        import os as _os

        interop.write_hudi(
            initial, path, record_key=pk, mode="bulk_insert",
            table_type="MERGE_ON_READ",
        )
        interop.write_hudi(ups.select(*cols), path, record_key=pk, mode="upsert")
        del_rows = (
            dels.drop(OP_COL, TS_COL)
            .withColumn("last_applied_date", F.lit(None).cast("timestamp"))
            .select(*cols)
        )
        interop.write_hudi(del_rows, path, record_key=pk, mode="delete")
        if not any(
            ".log." in f for _r, _d, fs in _os.walk(path) for f in fs
        ):
            raise AssertionError("hudi_mor e2e expected log files")
        pre = interop.read_hudi(spark, path)
        if interop.compact_hudi(spark, path) is None:
            raise AssertionError("hudi_mor e2e expected a compaction")
        final = interop.read_hudi(spark, path)
        if final.count() != pre.count():
            raise AssertionError("compaction changed the snapshot row count")
    elif fmt == "hudi_evolve":
        # The reference's mid-stream schema evolution on its HUDI
        # table (SURVEY §1.3 / src/hudi/hudi-cdc-load.py:115-157: the
        # DMS stream adds last_applied_date after the initial load):
        # the MoR table is created WITHOUT the column; the CDC upsert
        # carries it and write_hudi(evolve=True) evolves the avro log
        # schema + commit-metadata schema in the deltacommit. The
        # column exists in NO base file until compaction folds it in;
        # the snapshot must match the shared oracle BOTH before and
        # after. Pre-evolution rows read the column null — the same
        # analytic state as the plain hudi gate.
        interop.write_hudi(
            initial.drop("last_applied_date"), path, record_key=pk,
            mode="bulk_insert", table_type="MERGE_ON_READ",
        )
        interop.write_hudi(
            ups.select(*cols), path, record_key=pk, mode="upsert",
            evolve=True,
        )
        del_rows = (
            dels.drop(OP_COL, TS_COL)
            .withColumn("last_applied_date", F.lit(None).cast("timestamp"))
            .select(*cols)
        )
        interop.write_hudi(del_rows, path, record_key=pk, mode="delete")
        pre = interop.read_hudi(spark, path)
        if "last_applied_date" not in pre.columns:
            raise AssertionError(
                "evolve=True upsert did not evolve the readable schema"
            )
        if interop.compact_hudi(spark, path) is None:
            raise AssertionError("hudi_evolve e2e expected a compaction")
        final = interop.read_hudi(spark, path)
        if final.count() != pre.count():
            raise AssertionError("compaction changed the snapshot row count")
    elif fmt == "iceberg_v1up":
        # A NATIVE-STYLE format-version 1 table in the wild (r13, r12
        # verdict missing #4): the initial load is committed as
        # HAND-BUILT v1 metadata — inline schema / flat partition-spec,
        # a snapshot carrying the v1 INLINE ``manifests`` list, entries
        # without sequence numbers or ``content``. The v2 write surface
        # must refuse it loudly; ``upgrade_iceberg_v1_to_v2`` is ONE
        # metadata-only commit (no data/manifest bytes move) after
        # which the standard CDC pipeline runs; same oracle — the
        # upgrade must be analytically invisible.
        import json as _json
        import os as _os
        import shutil as _sh
        import uuid as _uuid

        import pyarrow.parquet as _pq

        from ..formats.avro_lite import write_avro_file

        ddir = _os.path.join(path, "data")
        mdir = _os.path.join(path, "metadata")
        _os.makedirs(ddir)
        _os.makedirs(mdir)
        stage = path + ".stage"
        initial.coalesce(2).write.parquet(stage)
        files = []
        for root_, _dirs, fs in _os.walk(stage):
            for f in fs:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    dst = _os.path.join(ddir, f"{_uuid.uuid4().hex}.parquet")
                    _os.rename(_os.path.join(root_, f), dst)
                    files.append(dst)
        _sh.rmtree(stage, ignore_errors=True)
        v1_entry_schema = {
            "type": "record", "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {"name": "snapshot_id", "type": ["null", "long"]},
                {"name": "data_file", "type": {
                    "type": "record", "name": "r2", "fields": [
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ]}},
            ],
        }
        mp = _os.path.join(mdir, "m0.avro")
        write_avro_file(
            mp, v1_entry_schema,
            [
                {
                    "status": 1, "snapshot_id": 7,
                    "data_file": {
                        "file_path": "file://" + fp,
                        "file_format": "PARQUET",
                        "record_count": _pq.ParquetFile(fp).metadata.num_rows,
                        "file_size_in_bytes": _os.path.getsize(fp),
                    },
                }
                for fp in files
            ],
        )
        ice_schema, last_col = interop._ice_schema_from_spark(initial.schema)
        meta_v1 = {
            "format-version": 1, "location": "file://" + path,
            "last-column-id": last_col,
            "schema": ice_schema,
            "partition-spec": [],
            "current-snapshot-id": 7,
            "snapshots": [{
                "snapshot-id": 7, "timestamp-ms": 1693526400000,
                "manifests": ["file://" + mp],
                "summary": {"operation": "append"},
            }],
        }
        with open(
            _os.path.join(mdir, "v1.metadata.json"), "w", encoding="utf-8"
        ) as f:
            _json.dump(meta_v1, f)
        with open(
            _os.path.join(mdir, "version-hint.text"), "w", encoding="ascii"
        ) as f:
            f.write("1")
        try:
            interop.merge_iceberg(ups.select(*cols), path, key=pk, mode="upsert")
            raise AssertionError(
                "merge into v1 metadata unexpectedly succeeded"
            )
        except NotImplementedError:
            pass
        if interop.upgrade_iceberg_v1_to_v2(path) != 2:
            raise AssertionError("upgrade did not commit v2 metadata")
        interop.merge_iceberg(ups.select(*cols), path, key=pk, mode="upsert")
        interop.merge_iceberg(dels.select(pk), path, key=pk, mode="delete")
        final = interop.read_iceberg(spark, path)
    else:
        raise ValueError(fmt)
    return final.select(
        "user_id", "email", "gender", "cur_level", "marketing_agreement", "dob",
        F.coalesce(
            F.col("last_applied_date").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("last_applied"),
    )


def game_user_cdc_e2e_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_user_e2e_foreign(spark, "delta")


def game_user_cdc_e2e_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_user_e2e_foreign(spark, "iceberg")


def game_user_cdc_e2e_hudi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_user_e2e_foreign(spark, "hudi")


def game_user_cdc_e2e_delta_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_user_e2e_foreign(spark, "delta_dv")


def game_user_cdc_e2e_delta_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_user_e2e_foreign(spark, "delta_evolve")


def game_user_cdc_e2e_iceberg_eqd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_user_e2e_foreign(spark, "iceberg_eqd")


def game_user_cdc_e2e_iceberg_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_user_e2e_foreign(spark, "iceberg_mor")


def game_user_cdc_e2e_iceberg_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_user_e2e_foreign(spark, "iceberg_days")


def game_user_cdc_e2e_hudi_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_user_e2e_foreign(spark, "hudi_evolve")


def game_user_cdc_e2e_iceberg_v1up(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_user_e2e_foreign(spark, "iceberg_v1up")


def game_user_cdc_e2e_hudi_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_user_e2e_foreign(spark, "hudi_mor")


def game_user_cdc_e2e_iceberg_v3dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_user_e2e_foreign(spark, "iceberg_v3dv")


# --------------------------------------------------------------------------
# game_user_cdc_e2e_via_changes — the change-feed family's CORRECTNESS
# gate (round-9 verdict missing #5): the SAME reference Delta CDC job,
# on a CDF-enabled REAL Delta table, but the FINAL STATE is
# reconstructed purely from read_delta_changes (X106) — the blind
# create read as inserts, the merges from their authoritative
# _change_data capture. If the feed's rows fold back into exactly the
# table the merges produced, the feed is row-level faithful; the
# DuckDB oracle states that final table (same as game_user_cdc_e2e).
# --------------------------------------------------------------------------


def game_user_cdc_e2e_via_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from datetime import datetime, timezone

    from pyspark.sql.window import Window

    from ..formats import interop
    from ..operators.cdc import (
        cast_envelope_timestamp,
        dedupe_latest,
        with_audit_column,
    )
    from ..spec import OP_COL, TS_COL, GAME_SPECS_BY_NAME

    _utc(spark)
    spec = GAME_SPECS_BY_NAME["user_data"]
    path = tempfile.mkdtemp(prefix="tdl_e2e_cdf_") + "/t"
    initial = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{_DEMO_ROOT}/initial-load/game/{spec.table_name}"
    ).withColumn("last_applied_date", F.lit(None).cast("timestamp"))
    interop.write_delta(
        initial, path, mode="error",
        configuration={"delta.enableChangeDataFeed": "true"},
    )

    batch = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{_DEMO_ROOT}/cdc-load/game/{spec.table_name}"
    )
    deduped = dedupe_latest(
        cast_envelope_timestamp(batch), key=spec.primary_key, ts_col=TS_COL,
        op_col=OP_COL,
    )
    clock = datetime(2023, 9, 1, tzinfo=timezone.utc)
    cols = initial.columns
    pk = spec.primary_key
    ups = with_audit_column(
        deduped.filter(F.col(OP_COL) != "D").drop(OP_COL, TS_COL), clock
    ).select(*cols)
    dels = deduped.filter(F.col(OP_COL) == "D").select(pk)
    interop.merge_delta(ups, path, key=pk, mode="upsert")
    interop.merge_delta(dels, path, key=pk, mode="delete")

    # Reconstruct from the feed alone: latest non-preimage change per
    # key wins; a key whose latest change is a delete is gone.
    ch = interop.read_delta_changes(spark, path, 0)
    w = Window.partitionBy(pk).orderBy(F.col("_commit_version").desc())
    final = (
        ch.filter(F.col("_change_type") != "update_preimage")
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("_change_type") != "delete"))
    )
    return final.select(
        "user_id", "email", "gender", "cur_level", "marketing_agreement", "dob",
        F.coalesce(
            F.col("last_applied_date").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("last_applied"),
    )


# --------------------------------------------------------------------------
# game_item_cdc_e2e_via_changes — the ENGINE change feed's gate (X36,
# the diff the incremental mirrors publish from): the reference's
# Hudi job on the PARTITIONED item table through the managed pipeline,
# with the final state reconstructed from snapshot_changes(v0 → head)
# folded onto the v0 snapshot — untouched keys keep their v0 row,
# changed keys take their postimage/insert row, deleted keys drop.
# If this doesn't equal the head snapshot, every incremental mirror
# is silently wrong; the DuckDB oracle states the final table (same
# as game_item_cdc_e2e).
# --------------------------------------------------------------------------


def game_item_cdc_e2e_via_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timezone

    from ..catalog import Catalog
    from ..formats.changes import CHANGE_TYPE_COL, snapshot_changes
    from ..formats.parquet_cow import temp_warehouse
    from ..pipeline import cdc_load, initial_load
    from ..spec import GAME_SPECS_BY_NAME

    _utc(spark)
    spec = GAME_SPECS_BY_NAME["item_data"]
    cat = Catalog(spark, temp_warehouse(prefix="tdl_e2e_feed_"))
    initial_load(spark, cat, spec, _DEMO_ROOT)
    tbl = cat.table(spec)
    v0 = tbl.current_version().version
    cdc_load(
        spark, cat, spec, _DEMO_ROOT,
        clock=datetime(2023, 9, 1, tzinfo=timezone.utc),
    )
    pk = spec.primary_key
    base = tbl.read(version=v0)
    # The merge ADDS last_applied_date via schema evolution, so the v0
    # snapshot predates the column — normalize before the fold, exactly
    # as an incremental consumer of an evolving table must.
    if "last_applied_date" not in base.columns:
        base = base.withColumn(
            "last_applied_date", F.lit(None).cast("timestamp")
        )
    ch = snapshot_changes(tbl, v0)
    untouched = base.join(ch.select(pk).distinct(), pk, "left_anti")
    new_rows = ch.filter(
        F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage")
    ).drop(CHANGE_TYPE_COL)
    final = untouched.unionByName(new_rows.select(*untouched.columns))
    return final.select(
        "item_id", "item_name", "category", "price",
        F.coalesce(
            F.col("last_applied_date").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("last_applied"),
    )


# --------------------------------------------------------------------------
# docs_winnow_fingerprints — rolling-hash document fingerprinting
# (winnowing / MOSS selection): hash every character k-gram, slide a
# window over consecutive hashes, keep each window's minimum — any
# shared passage of length >= k + window - 1 shares a fingerprint, at
# ~1/window the storage. Spark: Arrow-batched UDF (bit-identical to
# the pure-expression reference twin, pinned in pytest); oracle:
# DuckDB re-derives every fingerprint via the portable md5-prefix
# hash + list window minima.
# --------------------------------------------------------------------------


def docs_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import winnow_fingerprints

    _utc(spark)
    docs = load(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, k=8, window=4)
    # Per-doc summary, not the exploded rows: count + min + max +
    # modular checksum pins every 60-bit fingerprint (a discrepancy
    # slipping through all four simultaneously is ~impossible) while
    # the result stays |docs|-sized — the exploded form would make the
    # bench drain measure a 550k-row driver collect, not the operator.
    # (The checksum modulus keeps the sum inside BIGINT on both
    # engines; pytest additionally pins the exploded rows
    # bit-identical to the pure-expression twin.)
    return fp.groupBy("doc_id").agg(
        F.count("*").alias("n_fps"),
        F.min("fingerprint").alias("min_fp"),
        F.max("fingerprint").alias("max_fp"),
        F.sum(F.pmod(F.col("fingerprint"), F.lit(1000003))).alias("fp_checksum"),
    )


DOCS_WINNOW_ORACLE = r"""
WITH g AS (SELECT doc_id, lower(text) AS t FROM documents),
grams AS (
  SELECT doc_id, CASE WHEN len(t) - 7 >= 1 THEN
      list_transform(range(1, len(t) - 7 + 1), i -> substr(t, i, 8))
    ELSE [t] END AS gs FROM g
), hashes AS (
  SELECT doc_id,
         list_transform(gs, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))
           AS hs
  FROM grams
), mins AS (
  SELECT doc_id, CASE WHEN len(hs) - 3 >= 1 THEN
      list_distinct(
        list_transform(range(1, len(hs) - 3 + 1), j -> list_min(hs[j:j+3]))
      )
    ELSE list_distinct(hs) END AS fps
  FROM hashes
), fp AS (
  SELECT doc_id, unnest(fps) AS fingerprint FROM mins
)
SELECT doc_id,
       count(*) AS n_fps,
       min(fingerprint) AS min_fp,
       max(fingerprint) AS max_fp,
       CAST(sum(fingerprint % 1000003) AS BIGINT) AS fp_checksum
FROM fp GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# docs_dedup_index_query — the CDC-MAINTAINED near-dup index (the
# 100-TB dedup shape: a long-lived corpus + arriving batches, no
# O(corpus) recompute per batch). Corpus = the md5-bucket-80% split of
# documents, loaded into a managed table and indexed ONCE
# (ManagedDedupIndex: banded-LSH rows keyed (doc, band), partitioned
# by bucket shard); the other 20% arrive as the query batch and dedup
# against the index via shard-pruned band joins + exact verify. The
# oracle is the brute-force cross-split Jaccard at the threshold —
# banding at 0.7 with b=16/r=2 misses with P ≈ 2e-5, so the index
# answer must equal the exact one.
# --------------------------------------------------------------------------


def docs_dedup_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import Catalog
    from ..formats.parquet_cow import temp_warehouse
    from ..operators.dedup_index import ManagedDedupIndex
    from ..operators.sampling import md5_bucket_col
    from ..spec import TableSpec

    _utc(spark)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = md5_bucket_col(F.col("doc_id"))
    corpus = docs.filter(bucket < 52429)
    batch = docs.filter(bucket >= 52429).withColumnRenamed("doc_id", "query_id")
    cat = Catalog(spark, temp_warehouse(prefix="tdl_dedup_idx_"))
    spec = TableSpec("corpus_docs", "doc_id", None, None, "dedup")
    cat.table(spec).create(corpus)
    idx = ManagedDedupIndex(cat, spec, threshold=0.7)
    idx.build()
    return idx.near_duplicates(batch).select(
        "query_id", "doc_id", "jaccard"
    )


DOCS_DEDUP_INDEX_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id, CASE WHEN len(t) >= 3 THEN
      list_distinct(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
    ELSE [array_to_string(t, ' ')] END AS s
  FROM toks
), split AS (
  SELECT doc_id, s,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) < 52429
           AS in_corpus
  FROM sh
)
SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
       round(len(list_intersect(q.s, c.s)) * 1.0
             / len(list_distinct(q.s || c.s)), 4) AS jaccard
FROM split q JOIN split c ON (NOT q.in_corpus) AND c.in_corpus
WHERE len(list_intersect(q.s, c.s)) * 1.0
      / len(list_distinct(q.s || c.s)) >= 0.7
"""


# --------------------------------------------------------------------------
# emb_ann_index_query — the CDC-MAINTAINED ANN index (the 100-TB
# similarity shape: a long-lived vector corpus + arriving merges, no
# O(corpus) re-encode per batch; the docs_dedup_index_query sibling).
# Corpus = vec_id % 5 != 4 loaded into a managed table and indexed ONCE
# (ManagedAnnIndex: IVF rows keyed vec_id, hive-partitioned by
# cluster_id); a merge sequence then lands as THREE source commits —
# the remaining 20% inserted, every corpus vec_id % 7 == 0 row's
# vector rewritten to (0.5 - x), every vec_id % 11 == 3 key deleted
# (overlapping the update/insert sets, so update-then-delete and
# insert-then-delete net out inside ONE multi-commit change window) —
# and one refresh() encodes ONLY the change feed. Pinned in-gate:
# refresh took the CDF path with exact encoded/deleted counts, and a
# shard-pruned probe (nprobe=2) opens STRICTLY fewer index files than
# the exhaustive probe. Returned frame: the exhaustive probe
# (nprobe == ivf_k — the probe set covers every cluster, so pruned
# cosine top-k ≡ brute force, the emb_ivf_knn exactness pattern)
# against the brute-force oracle over the post-merge state.
# --------------------------------------------------------------------------


def _ann_index_post_merge(spark: SparkSession, sf_dir: str, **idx_kwargs):
    """Shared scaffold for the ANN-index gates: 80% corpus into a
    managed table, index built ONCE, then a three-commit merge
    sequence (20% inserts, vector rewrites, overlapping keyed deletes)
    folded through ONE change-feed refresh with exact NET
    encoded/deleted pins. Returns (idx, emb, qvec)."""
    from ..catalog import Catalog
    from ..formats.parquet_cow import temp_warehouse
    from ..operators.ann_index import ManagedAnnIndex
    from ..spec import TableSpec

    _utc(spark)
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus0 = emb.filter(F.col("vec_id") % 5 != 4)
    inserts = emb.filter(F.col("vec_id") % 5 == 4)
    updates = corpus0.filter(F.col("vec_id") % 7 == 0).withColumn(
        "embedding", F.transform("embedding", lambda x: F.lit(0.5) - x)
    )
    deletes = emb.filter(F.col("vec_id") % 11 == 3).select("vec_id")

    cat = Catalog(spark, temp_warehouse(prefix="tdl_ann_idx_"))
    spec = TableSpec("emb_vectors", "vec_id", None, None, "ann")
    tbl = cat.table(spec)
    tbl.create(corpus0)
    idx = ManagedAnnIndex(cat, spec, vec_col="embedding", ivf_k=8, **idx_kwargs)
    idx.build()

    tbl.merge_upsert(inserts)
    tbl.merge_upsert(updates)
    tbl.merge_delete(deletes)
    stats = idx.refresh()
    # Pin the incremental path: the refresh must have walked the
    # change feed (never a silent full rebuild) and touched exactly
    # the NET change set — snapshot_changes diffs window endpoints, so
    # insert-then-delete keys vanish entirely and update-then-delete
    # nets to a bare delete (the encode kernels never touch a row the
    # final state doesn't hold).
    n_encoded_expect = emb.filter(
        ((F.col("vec_id") % 5 == 4) | (F.col("vec_id") % 7 == 0))
        & (F.col("vec_id") % 11 != 3)
    ).count()
    n_deleted_expect = emb.filter(
        (F.col("vec_id") % 11 == 3) & (F.col("vec_id") % 5 != 4)
    ).count()
    assert stats["action"] == "refreshed", stats
    assert stats["encoded"] == n_encoded_expect, (stats, n_encoded_expect)
    assert stats["deleted"] == n_deleted_expect, (stats, n_deleted_expect)

    # Query = the ORIGINAL vector of vec_id 1 (in the corpus, not
    # updated, not deleted — identical on both sides). One 64-float
    # driver-side fetch, the same O(1) shape as the centroid state.
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 1).head()["embedding"]]
    return idx, emb, qvec


def emb_ann_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, _emb, qvec = _ann_index_post_merge(spark, sf_dir)

    # Shard pruning is physical: a 2-cluster probe must open strictly
    # fewer partition files than the all-cluster probe (the
    # orders_1996_iceberg_pruned pin, on the index table).
    pruned_files = set(idx.topk(qvec, k=10, nprobe=2).inputFiles())
    full = idx.topk(qvec, k=10, nprobe=8)
    assert len(pruned_files) < len(set(full.inputFiles())), (
        f"pruned probe opened {len(pruned_files)} files, exhaustive "
        f"{len(set(full.inputFiles()))} — cluster_id partition pruning regressed"
    )
    return full.select("vec_id", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


def emb_ann_index_pq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ-codes flavor of the managed index (r14): the index table
    stores m-byte codes instead of vectors; refresh PQ-encodes only
    the change feed under the BUILD-time frozen codebooks; the probe
    is ADC over the probed codes + exact re-rank joining the source
    for the shortlist. Gate exactness: exhaustive probe + shortlist
    covering every candidate makes the re-ranked top-k ≡ brute force
    (the emb_pq_knn degenerate-setting pattern), hash-checked against
    the same post-merge oracle."""
    idx, _emb, qvec = _ann_index_post_merge(spark, sf_dir, pq_m=8)
    full = idx.topk(qvec, k=10, nprobe=8, rerank=1_000_000)
    return full.select("vec_id", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


EMB_ANN_INDEX_ORACLE = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
state AS (
  SELECT vec_id,
         CASE WHEN vec_id % 5 <> 4 AND vec_id % 7 = 0
              THEN list_transform(v, x -> 0.5 - x) ELSE v END AS v
  FROM base
  WHERE vec_id % 11 <> 3
),
q AS (SELECT v AS q_vec FROM base WHERE vec_id = 1)
SELECT vec_id, round(sim, 6) AS cos_sim
FROM (
  SELECT s.vec_id,
         list_dot_product(s.v, q.q_vec)
           / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(q.q_vec, q.q_vec))) AS sim
  FROM state s, q
) ORDER BY sim DESC, vec_id LIMIT 10
"""


def _game_oracle(table: str, pk: str, out_cols: str) -> str:
    return f"""
WITH init AS (
  SELECT * FROM read_parquet('{_DEMO_ROOT}/initial-load/game/{table}/*.parquet')
), cdc AS (
  SELECT * FROM read_parquet('{_DEMO_ROOT}/cdc-load/game/{table}/*.parquet')
), latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY {pk}
    ORDER BY "timestamp" DESC,
             (CASE Op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC
  ) AS rn FROM cdc
), dedup AS (SELECT * FROM latest WHERE rn = 1)
SELECT {out_cols}, last_applied FROM (
  SELECT i.*, DATE '1970-01-01' AS last_applied
  FROM init i WHERE {pk} NOT IN (SELECT {pk} FROM dedup)
  UNION ALL BY NAME
  SELECT * EXCLUDE (Op, "timestamp", rn), DATE '2023-09-01' AS last_applied
  FROM dedup WHERE Op <> 'D'
)
"""


GAME_USER_E2E_ORACLE = _game_oracle(
    "user_data", "user_id", "user_id, email, gender, cur_level, marketing_agreement, dob"
)


def game_item_cdc_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _game_cdc_final_state(
        spark, "item_data", ["item_id", "item_name", "category", "price"]
    )


GAME_ITEM_E2E_ORACLE = _game_oracle(
    "item_data", "item_id", "item_id, item_name, category, price"
)


# --------------------------------------------------------------------------
# q1_via_managed_table — the analytic surface through a MANAGED table
# (r3 verdict #6): every other analytic gate reads raw parquet
# directly; this one initial-loads lineitem into a hive-partitioned
# copy-on-write table (write clustering, partition-type recovery,
# footer-stats collection, snapshot read) and runs the SAME q1
# aggregate through catalog.read_table against the SAME oracle —
# proving the managed write/read path doesn't perturb analytics.
# --------------------------------------------------------------------------


# One scratch warehouse per sf_dir, removed at interpreter exit:
# repeated correctness/bench invocations in one process reuse the
# loaded table instead of accumulating full lineitem copies in /tmp.
_Q1_MANAGED_WAREHOUSES: dict[str, str] = {}


def _q1_managed_warehouse(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import os
    import shutil

    from ..catalog import Catalog
    from ..formats.parquet_cow import temp_warehouse
    from ..spec import TableSpec

    spec = TableSpec(
        "lineitem_managed", "l_orderkey", partition_key="l_returnflag", database="analyticsdb"
    )
    wh = _Q1_MANAGED_WAREHOUSES.get(sf_dir)
    if wh is None or not os.path.isdir(wh):
        wh = temp_warehouse(prefix="tdl_q1_managed_")
        atexit.register(shutil.rmtree, wh, ignore_errors=True)
        Catalog(spark, wh).table(spec).create(load(spark, sf_dir, "lineitem"))
        _Q1_MANAGED_WAREHOUSES[sf_dir] = wh
    return wh


def q1_via_managed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import Catalog
    from ..spec import TableSpec

    _utc(spark)
    spec = TableSpec(
        "lineitem_managed", "l_orderkey", partition_key="l_returnflag", database="analyticsdb"
    )
    wh = _q1_managed_warehouse(spark, sf_dir)
    return _q1_agg(Catalog(spark, wh).read_table(spec))


# --------------------------------------------------------------------------
# q1_via_delta_interop — REAL-FORMAT interop end-to-end (r7 "missing
# #4", as far as a jar-less sandbox allows): lineitem exports to an
# ACTUAL Delta Lake table (formats/interop.write_delta — parquet data
# + spec-conformant _delta_log JSON any Delta reader opens) and the
# q1 aggregate runs over the log-replay read (formats/interop.
# read_delta, typed partition reconstruction from partitionValues).
# Same oracle as q1: the export/import cycle must be analytically
# invisible.
# --------------------------------------------------------------------------

def _cached_export(sf_dir: str, cache: dict[str, str], prefix: str, write_fn) -> str:
    """One warehouse export per (format, sf_dir) per process:
    ``write_fn(path)`` builds the table at a fresh temp path, cleaned
    at exit. Shared by the three interop gates."""
    import atexit
    import os
    import shutil
    import tempfile

    path = cache.get(sf_dir)
    if path is None or not os.path.isdir(path):
        path = tempfile.mkdtemp(prefix=prefix)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        shutil.rmtree(path)
        write_fn(path)
        cache[sf_dir] = path
    return path


_Q1_DELTA_EXPORTS: dict[str, str] = {}


def _q1_delta_export(spark: SparkSession, sf_dir: str) -> str:
    from ..formats.interop import write_delta

    return _cached_export(
        sf_dir, _Q1_DELTA_EXPORTS, "tdl_q1_delta_",
        lambda p: write_delta(
            load(spark, sf_dir, "lineitem"), p, mode="error",
            partition_by=["l_returnflag"],
        ),
    )


def q1_via_delta_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats.interop import read_delta

    _utc(spark)
    return _q1_agg(read_delta(spark, _q1_delta_export(spark, sf_dir)))


# --------------------------------------------------------------------------
# q1_via_iceberg_interop — the Iceberg twin of the Delta gate (r8
# verdict #1): lineitem exports to an ACTUAL Apache Iceberg v2 table
# (formats/interop.write_iceberg — parquet data + avro_lite-encoded
# manifest/manifest-list + v<N>.metadata.json snapshot commit, the
# layout the reference's iceberg-initial-load.py:59-94 produces via
# the Iceberg jars) and the q1 aggregate runs over the metadata-walk
# read (formats/interop.read_iceberg). Same oracle as q1: the
# export/import cycle must be analytically invisible.
# --------------------------------------------------------------------------

_Q1_ICEBERG_EXPORTS: dict[str, str] = {}


def _q1_iceberg_export(spark: SparkSession, sf_dir: str) -> str:
    from ..formats.interop import write_iceberg

    return _cached_export(
        sf_dir, _Q1_ICEBERG_EXPORTS, "tdl_q1_iceberg_",
        lambda p: write_iceberg(
            load(spark, sf_dir, "lineitem"), p, mode="error",
            partition_by=["l_returnflag"],
        ),
    )


def q1_via_iceberg_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats.interop import read_iceberg

    _utc(spark)
    return _q1_agg(read_iceberg(spark, _q1_iceberg_export(spark, sf_dir)))


# --------------------------------------------------------------------------
# orders_1996_iceberg_pruned — hidden-partition PRUNING as a gated
# query (X142/X140, r12): orders exports once to a REAL Iceberg v2
# table PARTITIONED BY months(o_orderdate) (the reference's
# hidden-partitioning context); the query filters on the SOURCE column
# with read_iceberg(where=) and the gate PINS that the scan opened
# strictly fewer files than the unpruned read — at 100 TB this is the
# difference between O(months-in-range) and O(table) file opens. The
# oracle restates the filter+aggregate over raw orders: pruning plus
# the residual row filter must be analytically invisible.
# --------------------------------------------------------------------------

_ORDERS_ICEBERG_EXPORTS: dict[str, str] = {}


def _orders_iceberg_export(spark: SparkSession, sf_dir: str) -> str:
    from ..formats.interop import write_iceberg

    return _cached_export(
        sf_dir, _ORDERS_ICEBERG_EXPORTS, "tdl_orders_ice_",
        lambda p: write_iceberg(
            load(spark, sf_dir, "orders"), p, mode="error",
            partition_by=["months(o_orderdate)"],
        ),
    )


def orders_1996_iceberg_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    from ..formats.interop import read_iceberg

    _utc(spark)
    path = _orders_iceberg_export(spark, sf_dir)
    pruned = read_iceberg(
        spark, path,
        where=[
            ("o_orderdate", ">=", _dt.datetime(1996, 1, 1)),
            ("o_orderdate", "<", _dt.datetime(1997, 1, 1)),
        ],
    )
    n_pruned = len(pruned.inputFiles())
    n_all = len(read_iceberg(spark, path).inputFiles())
    if not 0 < n_pruned < n_all:
        raise AssertionError(
            f"hidden-partition pruning did not engage: {n_pruned} of "
            f"{n_all} files scanned"
        )
    return (
        pruned.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


ORDERS_1996_PRUNED_ORACLE = """
SELECT o_orderpriority,
       count(*)                     AS n_orders,
       round(sum(o_totalprice), 2)  AS total_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY o_orderpriority
"""


def orders_1996_sqltext_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-TEXT twin of ``orders_1996_iceberg_pruned`` (r13): the
    same ``months(o_orderdate)`` hidden-partitioned Iceberg table
    queried through ``LakeSQL`` as plain text — the surface the
    reference validates its lake with
    (``src/sample_redshift_ml_sql_query.txt:97,133`` date predicates).
    ``sql.py`` derives ``where=`` pushdown from the WHERE clause
    (``_derive_pushdown``), so the manifest-level file skipping the
    API path gets must engage HERE too: the strictly-fewer-files pin
    runs in-gate against the untranslated full scan."""
    import tempfile

    from ..catalog import Catalog
    from ..formats.interop import read_iceberg
    from ..sql import LakeSQL

    _utc(spark)
    path = _orders_iceberg_export(spark, sf_dir)
    lake = LakeSQL(Catalog(spark, tempfile.mkdtemp(prefix="tdl_sqlwh_")))
    df = lake.sql(f"""
SELECT o_orderpriority,
       count(*)                     AS n_orders,
       round(sum(o_totalprice), 2)  AS total_price
FROM iceberg.`{path}`
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderpriority
""")
    n_pruned = len(df.inputFiles())
    n_all = len(read_iceberg(spark, path).inputFiles())
    if not 0 < n_pruned < n_all:
        raise AssertionError(
            f"SQL-text WHERE did not drive file skipping: {n_pruned} of "
            f"{n_all} files scanned"
        )
    return df


def orders_1996_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13: the reference's own validation shape — a date-range
    ``count(*)`` over the lake (sample_redshift_ml_sql_query.txt's
    date predicates) — answered from METADATA ALONE on the
    months(o_orderdate) hidden-partitioned Iceberg table: every file's
    partition record decides the month-aligned range, so the count is
    manifest arithmetic with ZERO data scan (pinned in-gate via empty
    inputFiles). The DuckDB oracle states the same count over raw
    orders; at 100 TB this is milliseconds vs a cluster job."""
    import tempfile

    from ..catalog import Catalog
    from ..sql import LakeSQL

    _utc(spark)
    path = _orders_iceberg_export(spark, sf_dir)
    lake = LakeSQL(Catalog(spark, tempfile.mkdtemp(prefix="tdl_sqlwh_")))
    df = lake.sql(f"""
SELECT count(*) AS n_orders FROM iceberg.`{path}`
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
""")
    if df.inputFiles():
        raise AssertionError(
            "the range count opened data files; metadata arithmetic "
            "did not engage"
        )
    return df


ORDERS_1996_COUNT_ORACLE = """
SELECT count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
"""


def orders_dml_sqltext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """late-r14: the keyless predicate-DML surface (X159) gated
    end-to-end — a FRESH Delta export of orders (per call: DML
    mutates, so nothing shared) takes a SQL-text predicate UPDATE
    (``UPDATE delta.`p` SET ... WHERE ...``) then a predicate DELETE,
    both through the TWO-PHASE surgical rewrite (phase 1 prunes to
    stats candidates, phase 2 rewrites only files actually holding a
    matching row — pinned in-gate: untouched partitions' files carry
    forward byte-identical). The DuckDB oracle models the same two
    statements declaratively: CASE WHEN for the update, an anti-filter
    for the delete — exactly SQL's own semantics, so any divergence in
    matching, SET evaluation, or survivor handling hash-mismatches."""
    import os as _os
    import tempfile

    from ..catalog import Catalog
    from ..formats.interop import read_delta, write_delta
    from ..sql import LakeSQL

    _utc(spark)
    path = _os.path.join(tempfile.mkdtemp(prefix="tdl_orders_dml_"), "t")
    write_delta(
        load(spark, sf_dir, "orders").repartition(4),
        path, partition_by=["o_orderpriority"],
    )
    lake = LakeSQL(Catalog(spark, tempfile.mkdtemp(prefix="tdl_sqlwh_")))
    files0 = set(read_delta(spark, path).inputFiles())
    r1 = lake.sql(
        f"UPDATE delta.`{path}` SET o_totalprice = o_totalprice + 1 "
        "WHERE o_orderpriority = '1-URGENT' AND o_orderkey >= 200"
    )
    if r1.source_rows <= 0:
        raise AssertionError("the predicate UPDATE matched no rows")
    files1 = set(read_delta(spark, path).inputFiles())
    if not files0 & files1:
        raise AssertionError(
            "two-phase UPDATE rewrote every file; untouched "
            "partitions must carry forward verbatim"
        )
    r2 = lake.sql(
        f"DELETE FROM delta.`{path}` "
        "WHERE o_orderstatus = 'F' AND o_orderkey < 500"
    )
    if r2.source_rows <= 0:
        raise AssertionError("the predicate DELETE matched no rows")
    return (
        read_delta(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


ORDERS_DML_SQLTEXT_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice
                 + CASE WHEN o_orderpriority = '1-URGENT'
                         AND o_orderkey >= 200
                        THEN 1 ELSE 0 END), 2) AS total_price
FROM orders
WHERE NOT (o_orderstatus = 'F' AND o_orderkey < 500)
GROUP BY o_orderpriority
"""


def orders_dml_iceberg_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """late-r14: the ICEBERG lifecycle composition under one oracle —
    a FRESH identity-partitioned v2 export of orders takes the keyless
    SQL-text predicate UPDATE (X159's two-phase rewrite over
    manifests), then predicate DELETE, then small-file BINPACK
    (``replace`` snapshot — content must not move), then MANIFEST
    compaction (X168 — sequence numbers carried, zero data bytes;
    pinned in-gate: data-manifest count drops to the partition-spec
    minimum while inputFiles stay byte-identical). The final aggregate
    must hash-match the same declarative DuckDB model as the Delta
    twin: CASE WHEN for the update, an anti-filter for the delete —
    any drift introduced by EITHER maintenance step is a wrong answer,
    not just a layout difference."""
    import os as _os
    import tempfile

    from ..catalog import Catalog
    from ..formats.avro_lite import read_avro_file
    from ..formats.interop import (
        _iceberg_current_metadata,
        _iceberg_local_path,
        binpack_iceberg,
        read_iceberg,
        rewrite_iceberg_manifests,
    )
    from ..formats.interop import write_iceberg as _wi
    from ..sql import LakeSQL

    _utc(spark)
    path = _os.path.join(tempfile.mkdtemp(prefix="tdl_orders_icedml_"), "t")
    _wi(
        load(spark, sf_dir, "orders").repartition(4),
        path, partition_by=["o_orderpriority"],
    )
    lake = LakeSQL(Catalog(spark, tempfile.mkdtemp(prefix="tdl_sqlwh_")))
    r1 = lake.sql(
        f"UPDATE iceberg.`{path}` SET o_totalprice = o_totalprice + 1 "
        "WHERE o_orderpriority = '1-URGENT' AND o_orderkey >= 200"
    )
    if r1.source_rows <= 0:
        raise AssertionError("the predicate UPDATE matched no rows")
    r2 = lake.sql(
        f"DELETE FROM iceberg.`{path}` "
        "WHERE o_orderstatus = 'F' AND o_orderkey < 500"
    )
    if r2.source_rows <= 0:
        raise AssertionError("the predicate DELETE matched no rows")
    sid, _stats = binpack_iceberg(spark, path, target_bytes=128 << 20)
    if sid is None:
        raise AssertionError("binpack found nothing to compact")
    files_before = set(read_iceberg(spark, path).inputFiles())
    mid, mstats = rewrite_iceberg_manifests(path)
    if mid is None or mstats["created"] >= mstats["merged"]:
        raise AssertionError(f"manifest rewrite did not compact: {mstats}")
    if set(read_iceberg(spark, path).inputFiles()) != files_before:
        raise AssertionError(
            "manifest rewrite moved data files; it must be metadata-only"
        )
    meta = _iceberg_current_metadata(path)
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _s, ml = read_avro_file(_iceberg_local_path(snap["manifest-list"], path))
    n_data = sum(1 for r in ml if r.get("content", 0) == 0)
    if n_data != 1:
        raise AssertionError(f"expected 1 merged data manifest, found {n_data}")
    return (
        read_iceberg(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def lineitem_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15 — the ZORDER proof-gate (the reason ZORDER exists, pinned):
    lineitem exports to a FRESH Delta table deliberately SCATTERED —
    files range-split by l_orderkey, so every file's min/max box on
    (l_quantity, l_extendedprice) spans both domains and a 2-D box
    predicate must open EVERY file. ``OPTIMIZE ... ZORDER BY
    (l_quantity, l_extendedprice)`` then rewrites the layout
    Morton-ordered (``formats/zorder``'s shared math), and the pin
    demands the SAME predicate now open strictly fewer files than it
    did pre-ZORDER AND strictly fewer than the post-ZORDER total —
    multi-column stats skipping engaging on both clustered columns at
    once is exactly what a 100-TB point-lookup workload buys from the
    rewrite. The aggregate over the skipping read hash-matches the
    raw-lineitem DuckDB oracle, so the layout move may not drift a
    single row. Reference analogue: the lake-maintenance step of the
    reference's pipelines (compaction/clustering around
    src/hudi/hudi-cdc-load.py's table services), expressed as Delta's
    own OPTIMIZE ZORDER."""
    import os as _os
    import tempfile

    from ..formats.interop import read_delta, write_delta, zorder_delta

    _utc(spark)
    path = _os.path.join(tempfile.mkdtemp(prefix="tdl_li_zorder_"), "t")
    li = load(spark, sf_dir, "lineitem")
    write_delta(li.repartitionByRange(8, "l_orderkey"), path)
    box = [("l_quantity", "<=", 5.0), ("l_extendedprice", "<", 20000.0)]
    n_pre = len(read_delta(spark, path, where=box).inputFiles())
    pre_files = read_delta(spark, path).inputFiles()
    if n_pre < len(pre_files):
        raise AssertionError(
            "the doctored scatter failed: the 2-D box already skips "
            f"({n_pre} of {len(pre_files)} files) before ZORDER"
        )
    total = sum(
        _os.path.getsize(f.removeprefix("file:")) for f in pre_files
    )
    v, _stats = zorder_delta(
        spark, path, ["l_quantity", "l_extendedprice"],
        target_bytes=max(total // 8, 1),
    )
    if v is None:
        raise AssertionError("ZORDER found nothing to rewrite")
    post_df = read_delta(spark, path, where=box)
    n_post = len(post_df.inputFiles())
    n_post_all = len(read_delta(spark, path).inputFiles())
    if not (0 < n_post < n_pre and n_post < n_post_all):
        raise AssertionError(
            "ZORDER did not engage multi-column skipping: "
            f"{n_post} of {n_post_all} files opened post-rewrite "
            f"(pre-rewrite: {n_pre})"
        )
    return (
        post_df.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


LINEITEM_ZORDER_ORACLE = """
SELECT l_returnflag,
       count(*)                        AS n_rows,
       round(sum(l_extendedprice), 2)  AS sum_price
FROM lineitem
WHERE l_quantity <= 5 AND l_extendedprice < 20000
GROUP BY l_returnflag
"""


def orders_spec_evolve_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15 — partition SPEC EVOLUTION gated end-to-end: half of orders
    exports identity-partitioned (the layout a team starts with), the
    spec evolves to add ``months(o_orderdate)`` METADATA-ONLY (pinned:
    the data files are byte-identical across the evolve), the other
    half appends under the evolved spec, and a 1996 range read must
    open strictly fewer files than the full scan — hidden-partition
    pruning engaging on the NEW files while every OLD-spec file stays
    (per-spec superset safety, also pinned). The aggregate over the
    pruned read hash-matches the raw-orders oracle, so per-spec
    resolution may not lose or duplicate a row. Reference analogue:
    the Iceberg DDL surface, src/iceberg/iceberg-initial-load.py:
    59-94, evolved the way a production table actually grows."""
    import datetime as _dt
    import os as _os
    import tempfile

    from ..formats.interop import (
        evolve_iceberg_partition_spec,
        read_iceberg,
        write_iceberg,
    )

    _utc(spark)
    path = _os.path.join(tempfile.mkdtemp(prefix="tdl_orders_specevo_"), "t")
    orders = load(spark, sf_dir, "orders")
    write_iceberg(
        orders.filter(F.col("o_orderkey") % 2 == 0).repartition(2),
        path, partition_by=["o_orderpriority"],
    )
    files0 = set(read_iceberg(spark, path).inputFiles())
    evolve_iceberg_partition_spec(
        path, ["o_orderpriority", "months(o_orderdate)"]
    )
    if set(read_iceberg(spark, path).inputFiles()) != files0:
        raise AssertionError(
            "spec evolution moved data files; it must be metadata-only"
        )
    write_iceberg(
        orders.filter(F.col("o_orderkey") % 2 == 1).repartition(2),
        path, mode="append",
        partition_by=["o_orderpriority", "months(o_orderdate)"],
    )
    pruned = read_iceberg(
        spark, path,
        where=[
            ("o_orderdate", ">=", _dt.datetime(1996, 1, 1)),
            ("o_orderdate", "<", _dt.datetime(1997, 1, 1)),
        ],
    )
    n_pruned = len(pruned.inputFiles())
    n_all = len(read_iceberg(spark, path).inputFiles())
    if not 0 < n_pruned < n_all:
        raise AssertionError(
            f"per-spec pruning did not engage: {n_pruned} of {n_all} "
            "files scanned"
        )
    if not files0 <= set(pruned.inputFiles()):
        raise AssertionError(
            "pruning dropped an old-spec file; identity-spec files "
            "carry no month record and must stay (superset safety)"
        )
    return (
        pruned.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def orders_dml_hudi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15 — the HUDI twin closing the keyless DML matrix's last cell:
    a FRESH Hudi CoW export of orders takes the same SQL-text
    predicate UPDATE then predicate DELETE as the Delta twin, through
    the two-phase surgical rewrite (phase 1 finds file groups actually
    holding a match under the reader's own pruning; phase 2 re-reads
    ONLY those groups and stages new base slices at one commit — no
    record key consulted anywhere). Pinned in-gate: the UPDATE's new
    slices appear ONLY under the matched partition path, every
    pre-existing base file stays on disk (Hudi never removes old
    slices — as-of reads keep serving), and the untouched partitions
    gain no slice at all. Same declarative DuckDB oracle as the Delta
    twin (CASE WHEN + anti-filter), so drift in matching, SET
    evaluation, survivor carry-forward, or the latest-slice read rule
    is a wrong answer. Reference analogue: the Hudi CDC pipeline's
    write path, src/hudi/hudi-cdc-load.py:101-157, driven keyless."""
    import glob as _glob
    import os as _os
    import tempfile

    from ..catalog import Catalog
    from ..formats.interop import read_hudi, write_hudi
    from ..sql import LakeSQL

    _utc(spark)
    path = _os.path.join(tempfile.mkdtemp(prefix="tdl_orders_hudidml_"), "t")
    write_hudi(
        load(spark, sf_dir, "orders").repartition(4),
        path, record_key="o_orderkey",
        partition_by=["o_orderpriority"], num_buckets=2,
    )
    lake = LakeSQL(Catalog(spark, tempfile.mkdtemp(prefix="tdl_sqlwh_")))
    files0 = set(_glob.glob(path + "/**/*.parquet", recursive=True))
    r1 = lake.sql(
        f"UPDATE hudi.`{path}` SET o_totalprice = o_totalprice + 1 "
        "WHERE o_orderpriority = '1-URGENT' AND o_orderkey >= 200"
    )
    if r1.source_rows <= 0:
        raise AssertionError("the predicate UPDATE matched no rows")
    files1 = set(_glob.glob(path + "/**/*.parquet", recursive=True))
    if not files0 <= files1:
        raise AssertionError(
            "the surgical UPDATE removed base files; Hudi CoW only "
            "ADDS slices (old ones keep serving as-of reads)"
        )
    new_slices = files1 - files0
    if not new_slices or not all(
        "o_orderpriority=1-URGENT" in f for f in new_slices
    ):
        raise AssertionError(
            "UPDATE staged slices outside the matched partition; only "
            "file groups holding a match may rewrite"
        )
    r2 = lake.sql(
        f"DELETE FROM hudi.`{path}` "
        "WHERE o_orderstatus = 'F' AND o_orderkey < 500"
    )
    if r2.source_rows <= 0:
        raise AssertionError("the predicate DELETE matched no rows")
    return (
        read_hudi(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# q1_via_hudi_interop — the Hudi twin (r8 verdict "missing #1", second
# half): lineitem bulk-inserts into an ACTUAL Apache Hudi CoW table
# (formats/interop.write_hudi — keyed file groups, _hoodie_* meta
# columns, .hoodie timeline commit, the layout the reference's
# hudi-initial-load.py:101-104 produces via the Hudi jars) and q1 runs
# over the committed-file-slice read (read_hudi). Same oracle as q1.
# --------------------------------------------------------------------------

_Q1_HUDI_EXPORTS: dict[str, str] = {}


def _q1_hudi_export(spark: SparkSession, sf_dir: str) -> str:
    from ..formats.interop import write_hudi

    def _write(p: str) -> None:
        li = load(spark, sf_dir, "lineitem").withColumn(
            "l_rowkey",
            F.concat_ws("|", F.col("l_orderkey"), F.col("l_linenumber")),
        )
        write_hudi(
            li, p, record_key="l_rowkey", mode="bulk_insert",
            partition_by=["l_returnflag"],
        )

    return _cached_export(sf_dir, _Q1_HUDI_EXPORTS, "tdl_q1_hudi_", _write)


def q1_via_hudi_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats.interop import read_hudi

    _utc(spark)
    li = read_hudi(spark, _q1_hudi_export(spark, sf_dir))
    # DECIMAL sums, not double: the Hudi export re-buckets rows into
    # keyed file groups, so Spark's double accumulation order differs
    # from DuckDB's file order and the cent-level round(…, 2) can flip
    # (observed at sf0.001 on sum_disc_price). Exact decimal arithmetic
    # is order-independent on both engines; the final cast to double is
    # a correctly-rounded conversion of the SAME decimal value.
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    disc_price = price * (F.lit(1) - disc)
    charge = disc_price * (F.lit(1) + tax)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_DECIMAL_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)           AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)      AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)    AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))
                * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)         AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# q1_via_sql_catalog — the SQL TEXT surface end-to-end (r6 verdict #1/#2
# follow-through): the SAME q1 aggregate as a literal SQL string whose
# FROM reads the managed table BY IDENTIFIER (``lake.analyticsdb.
# lineitem_managed``) through sql.LakeSQL — the reference's actual
# interface (``spark.sql(f"SELECT ... FROM my_catalog.{DATABASE}.
# {table}")``, src/iceberg/iceberg-cdc-load.py:158-159). The view the
# rewrite registers is a snapshot-pinned native read, so Catalyst
# pushes the shipdate filter into the parquet scan like any q1 run.
# Same oracle as q1: the identifier surface must be analytically
# invisible.
# --------------------------------------------------------------------------


def q1_via_sql_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import Catalog
    from ..sql import LakeSQL

    _utc(spark)
    wh = _q1_managed_warehouse(spark, sf_dir)
    return LakeSQL(Catalog(spark, wh)).sql("""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lake.analyticsdb.lineitem_managed
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")


# --------------------------------------------------------------------------
# emb_ivf_knn — IVF approximate-nearest-neighbor, gated exactly: with
# nprobe == n_centroids the probe set is exhaustive, so the result MUST
# equal brute force (the oracle). The scale path (nprobe << k scanning
# a fraction of the lists) is covered by a recall test in pytest; this
# gate proves the index/assign/probe machinery loses nothing.
# --------------------------------------------------------------------------

def emb_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann_ivf import build_ivf, ivf_topk

    _utc(spark)
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    cand = emb.filter(F.col("vec_id") != 0)
    indexed, centroids = build_ivf(cand, k=8, iters=2)
    top = ivf_topk(indexed, centroids, qvec, k=10, nprobe=len(centroids))
    return top.select("vec_id", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


EMB_IVF_ORACLE = EMB_KNN_ORACLE  # exhaustive probing == exact top-k


# --------------------------------------------------------------------------
# emb_pq_knn — product-quantization ANN (operators/ann_pq), gated
# exactly by the same degenerate-setting trick as emb_ivf_knn: raw ADC
# top-k is probabilistic (no deterministic miss bound — a true
# neighbor's code distance can rank below k), but with an exact
# re-rank whose shortlist is the WHOLE corpus the ADC stage cannot
# drop anything and the re-rank is literally brute-force cosine — so
# the result MUST equal the brute-force oracle, proving the
# codebook-train/encode/ADC/re-rank machinery loses nothing. The scale
# path (shortlist of a few hundred over m-byte codes) is covered by
# recall tests in tests/test_ann_pq.py; this gate pins correctness.
# --------------------------------------------------------------------------

def emb_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann_pq import encode_pq, pq_topk, train_pq

    _utc(spark)
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    cand = emb.filter(F.col("vec_id") != 0)
    books = train_pq(cand, m=8)
    encoded = encode_pq(cand, books)
    # Shortlist == corpus → provably exact (see header comment).
    # rerank="all" makes that structural: the ADC ordering step is
    # skipped (no limit at all), so the exact re-rank plans as
    # TakeOrderedAndProject. The r17 INT_MAX literal kept the proof
    # without a count() probe job but exceeded
    # topKSortFallbackThreshold, planning a single-task full-corpus
    # sort (r18 advisory); "all" keeps both the proof and the probe-
    # free plan, and the ADC stage stays in the plan via an inert
    # trailing sort key (see pq_topk).
    top = pq_topk(encoded, books, qvec, k=10, rerank="all")
    return top.select("vec_id", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


EMB_PQ_ORACLE = EMB_KNN_ORACLE  # corpus-wide exact re-rank == exact top-k


# --------------------------------------------------------------------------
# orders_changelog_fold_iceberg — the Iceberg CHANGELOG scan (r16,
# interop.read_iceberg_changelog — the native create_changelog_view
# semantics, where the append-only incremental reader refuses): the
# orders table lives a three-commit life (bulk load, MoR upsert that
# doubles some totals, keyed MoR delete), the final state is
# reconstructed PURELY from the changelog feed folded per key (latest
# ordinal wins; an update's delete+insert pair resolves to the
# insert), pinned in-gate against the snapshot read, and hash-gated
# against a DECLARATIVE DuckDB restatement of the lifecycle.
# --------------------------------------------------------------------------


def orders_changelog_fold_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql.window import Window

    from ..formats.interop import (
        merge_iceberg,
        read_iceberg,
        read_iceberg_changelog,
        write_iceberg,
    )

    _utc(spark)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="tdl_clfold_") + "/t"
    write_iceberg(orders, path)
    merge_iceberg(
        orders.filter(F.col("o_orderkey") % 10 == 3).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        path, key="o_orderkey", strategy="mor",
    )
    merge_iceberg(
        orders.filter(F.col("o_orderkey") % 10 == 7).select("o_orderkey"),
        path, key="o_orderkey", mode="delete", strategy="mor",
    )
    cl = read_iceberg_changelog(spark, path)
    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("_change_ordinal").desc(), F.col("_change_type").desc()
    )
    folded = (
        cl.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("_change_type") == "insert"))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice"), 2).alias("total_price"),
        )
    )
    # In-gate pin: the fold must reconstruct the snapshot read exactly.
    head = read_iceberg(spark, path).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice"), 2).alias("total_price"),
    )
    if folded.exceptAll(head).count() or head.exceptAll(folded).count():
        raise AssertionError(
            "changelog fold diverged from the snapshot read"
        )
    return folded


ORDERS_CHANGELOG_FOLD_ORACLE = """
SELECT o_orderkey,
       o_orderstatus,
       round(CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 2
                  ELSE o_totalprice END, 2) AS total_price
FROM orders
WHERE o_orderkey % 10 != 7
ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# docs_html_extract — HTML boilerplate removal (operators/html.py): the
# web-corpus extraction step preceding every text-quality stage. Each
# document wraps into a synthetic page IN-QUERY (title with an entity,
# style/script/comment boilerplate, block structure, a &nbsp; footer)
# so the extractor must strip ALL of it and recover the payload; the
# DuckDB oracle re-derives every extraction independently through the
# same published SPEC (html_oracle_sql — RE2 restatement) and the md5
# per document must match EXACTLY.
# --------------------------------------------------------------------------

_HTML_WRAP_SUFFIX = (
    "</p><div>footer&nbsp;of doc</div><script>track()</script></body></html>"
)


def docs_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.html import extract_html_text, extract_html_title

    docs = load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(
            " &amp; co</title><style>p{margin:0}</style></head>"
            "<body><!-- generated --><p>"
        ),
        F.col("text"),
        F.lit(_HTML_WRAP_SUFFIX),
    )
    ext = extract_html_text(html)
    return (
        docs.select(
            "doc_id",
            extract_html_title(html).alias("title"),
            F.md5(ext).alias("text_hash"),
            F.length(ext).cast("int").alias("n_chars_ext"),
        )
        .orderBy("doc_id")
    )


def _docs_html_oracle() -> str:
    from ..operators.html import html_oracle_sql, html_title_oracle_sql

    html = (
        "'<html><head><title>Doc ' || doc_id::VARCHAR || "
        "' &amp; co</title><style>p{margin:0}</style></head>"
        "<body><!-- generated --><p>' || text || "
        f"'{_HTML_WRAP_SUFFIX}'"
    )
    ext = html_oracle_sql(html)
    title = html_title_oracle_sql(html)
    return f"""
SELECT doc_id,
       {title} AS title,
       md5({ext}) AS text_hash,
       CAST(length({ext}) AS INT) AS n_chars_ext
FROM documents ORDER BY doc_id
"""


def emb_pq_knn_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION PQ search shape (r16, bench-only — r15 verdict
    #6): ADC scan over m-byte codes with a BOUNDED exact-re-rank
    shortlist (100 candidates for k=10), i.e. what a 100-TB
    deployment actually runs. The recorded ``emb_pq_knn`` gate keeps
    its shortlist == corpus exactness proof; this entry exists so the
    headline bench total tracks the scale path's cost, not the
    proof's. Approximate by design → no value-hash oracle; the
    shortlist path's recall is pytest-gated (tests/test_ann_pq.py)."""
    from ..operators.ann_pq import encode_pq, pq_topk, train_pq

    _utc(spark)
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    cand = emb.filter(F.col("vec_id") != 0)
    books = train_pq(cand, m=8)
    encoded = encode_pq(cand, books)
    top = pq_topk(encoded, books, qvec, k=10, rerank=100)
    return top.select("vec_id", F.round(F.col("cos_sim"), 6).alias("cos_sim"))


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

QUERIES: dict[str, QueryDef] = {
    q.name: q
    for q in [
        QueryDef("q1_pricing_summary", q1_pricing_summary, Q1_ORACLE),
        QueryDef("q3_top_revenue", q3_top_revenue, Q3_ORACLE),
        QueryDef("q5_region_volume", q5_region_volume, Q5_ORACLE),
        QueryDef("events_latest_per_user", events_latest_per_user, EVENTS_LATEST_ORACLE),
        QueryDef("events_cdc_state", events_cdc_state, EVENTS_CDC_STATE_ORACLE),
        QueryDef("events_pivot_by_type", events_pivot_by_type, EVENTS_PIVOT_ORACLE),
        QueryDef("events_hourly_rollup", events_hourly_rollup, EVENTS_ROLLUP_ORACLE, headline=False),
        QueryDef("docs_token_counts", docs_token_counts, DOCS_TOKEN_COUNTS_ORACLE),
        QueryDef("docs_repetition_stats", docs_repetition_stats, DOCS_REPETITION_ORACLE),
        QueryDef("docs_vocab_topk", docs_vocab_topk, DOCS_VOCAB_ORACLE),
        QueryDef("customer_churn_features", customer_churn_features, CHURN_ORACLE),
        QueryDef("orders_priority_semi", orders_priority_semi, ORDERS_SEMI_ORACLE),
        QueryDef("orders_urgent_by_status", orders_urgent_by_status, ORDERS_URGENT_ORACLE, headline=False),
        QueryDef("top3_orders_per_cust", top3_orders_per_cust, TOP3_ORACLE),
        QueryDef("q14_promo_revenue", q14_promo_revenue, Q14_ORACLE, headline=False),
        QueryDef("q18_large_orders", q18_large_orders, Q18_ORACLE),
        QueryDef("orders_grouping_sets", orders_grouping_sets, ORDERS_GROUPING_SETS_ORACLE),
        QueryDef("game_user_cdc_e2e", game_user_cdc_e2e, GAME_USER_E2E_ORACLE, headline=False),
        # Same oracle as game_user_cdc_e2e: MERGE driven as SQL text
        # must be semantically identical to the API path.
        QueryDef(
            "game_user_cdc_e2e_sqltext",
            game_user_cdc_e2e_sqltext,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        QueryDef("game_item_cdc_e2e", game_item_cdc_e2e, GAME_ITEM_E2E_ORACLE, headline=False),
        # Engine feed (X36) gate: v0 + snapshot_changes folds to head —
        # the diff the incremental mirrors publish from.
        QueryDef(
            "game_item_cdc_e2e_via_changes",
            game_item_cdc_e2e_via_changes,
            GAME_ITEM_E2E_ORACLE,
            headline=False,
        ),
        # The reference's Delta/Iceberg/Hudi jobs on REAL foreign
        # tables (r9: interop.merge_delta / merge_iceberg /
        # write_hudi) — same oracle as the managed e2e.
        QueryDef(
            "game_user_cdc_e2e_delta",
            game_user_cdc_e2e_delta,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        QueryDef(
            "game_user_cdc_e2e_iceberg",
            game_user_cdc_e2e_iceberg,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        QueryDef(
            "game_user_cdc_e2e_hudi",
            game_user_cdc_e2e_hudi,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        # r10: the MERGE-ON-READ write paths (X127) — the same jobs,
        # matched rows retired via Delta deletion vectors / Iceberg
        # position deletes, with in-gate physical pins proving the
        # mechanism engaged. Same oracle: MoR must be analytically
        # invisible.
        QueryDef(
            "game_user_cdc_e2e_delta_dv",
            game_user_cdc_e2e_delta_dv,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        # r11: foreign-merge schema evolution (SURVEY §1.3 — the
        # reference's mid-stream last_applied_date via autoMerge):
        # the table starts WITHOUT the column, merge_delta(evolve=
        # True) commits the evolution with the merge. Same oracle:
        # evolution must be analytically invisible.
        QueryDef(
            "game_user_cdc_e2e_delta_evolve",
            game_user_cdc_e2e_delta_evolve,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        # r11: the streaming-CDC delete shape — deletes commit as
        # Iceberg EQUALITY DELETE files (content=2, zero table scan)
        # via write_iceberg_equality_deletes. Same oracle: the delete
        # mechanism must be analytically invisible.
        QueryDef(
            "game_user_cdc_e2e_iceberg_eqd",
            game_user_cdc_e2e_iceberg_eqd,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        QueryDef(
            "game_user_cdc_e2e_iceberg_mor",
            game_user_cdc_e2e_iceberg_mor,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        # r12: Iceberg HIDDEN PARTITIONING — the full CDC pipeline on
        # a days(first_login)-transformed spec (transform-evaluated
        # staging, MoR delete, compaction) with in-gate
        # partition-record pins. Same oracle: the layout must be
        # analytically invisible.
        QueryDef(
            "game_user_cdc_e2e_iceberg_days",
            game_user_cdc_e2e_iceberg_days,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        # r10: the Hudi MERGE_ON_READ lifecycle (X129) — CDC batches
        # append log blocks, the snapshot matches the oracle before
        # AND after compaction folds them into new base slices.
        QueryDef(
            "game_user_cdc_e2e_hudi_mor",
            game_user_cdc_e2e_hudi_mor,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        # r17: Iceberg FORMAT-VERSION 3 — upgrade_iceberg_v2_to_v3,
        # then the CDC batch as the v3 merge-on-read shape: Puffin
        # DELETION VECTORS (union/supersession pinned in-gate) +
        # row-lineage-assigned appends. Same oracle: v3 mechanics
        # must be analytically invisible.
        QueryDef(
            "game_user_cdc_e2e_iceberg_v3dv",
            game_user_cdc_e2e_iceberg_v3dv,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        # r12: Hudi mid-stream SCHEMA EVOLUTION — the CDC upsert adds
        # last_applied_date via write_hudi(evolve=True) on a MoR table
        # (log-only until compaction). Same oracle: evolution must be
        # analytically invisible.
        QueryDef(
            "game_user_cdc_e2e_hudi_evolve",
            game_user_cdc_e2e_hudi_evolve,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        # r13: format-version 1 INTEROP — the initial load is a
        # hand-built NATIVE-STYLE v1 table (inline schema, v1 inline
        # manifests, no sequence numbers); upgrade_iceberg_v1_to_v2
        # commits v2 metadata-only, then the CDC pipeline runs. Same
        # oracle: the upgrade must be analytically invisible.
        QueryDef(
            "game_user_cdc_e2e_iceberg_v1up",
            game_user_cdc_e2e_iceberg_v1up,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        # Change-feed family gate (X106/X87): final state rebuilt from
        # read_delta_changes alone must equal the merge outcome.
        QueryDef(
            "game_user_cdc_e2e_via_changes",
            game_user_cdc_e2e_via_changes,
            GAME_USER_E2E_ORACLE,
            headline=False,
        ),
        # CDC-maintained dedup index: shard-pruned LSH query vs the
        # brute-force cross-split oracle.
        QueryDef(
            "docs_dedup_index_query",
            docs_dedup_index_query,
            DOCS_DEDUP_INDEX_ORACLE,
            headline=False,
        ),
        # CDC-maintained ANN index: change-feed refresh + shard-pruned
        # probe vs the brute-force cosine oracle over post-merge state.
        QueryDef(
            "emb_ann_index_query",
            emb_ann_index_query,
            EMB_ANN_INDEX_ORACLE,
            headline=False,
        ),
        # PQ-codes flavor: ADC probe + exhaustive exact re-rank == the
        # same brute-force oracle.
        QueryDef(
            "emb_ann_index_pq_query",
            emb_ann_index_pq_query,
            EMB_ANN_INDEX_ORACLE,
            headline=False,
        ),
        # Rolling-hash winnowing fingerprints vs the DuckDB re-derivation.
        QueryDef(
            "docs_winnow_fingerprints",
            docs_winnow_fingerprints,
            DOCS_WINNOW_ORACLE,
        ),
        QueryDef("docs_exact_dedup", docs_exact_dedup, DOCS_EXACT_DEDUP_ORACLE),
        QueryDef("docs_text_stats", docs_text_stats, DOCS_TEXT_STATS_ORACLE),
        QueryDef("docs_minhash_near_dup", docs_minhash_near_dup, DOCS_MINHASH_ORACLE),
        QueryDef(
            "docs_ngram_jaccard_dedup", docs_ngram_jaccard_dedup, DOCS_NGRAM_JACCARD_ORACLE
        ),
        QueryDef("docs_dedup_clusters", docs_dedup_clusters, DOCS_CLUSTERS_ORACLE),
        QueryDef("docs_bm25_search", docs_bm25_search, DOCS_BM25_ORACLE),
        QueryDef("docs_bm25_batch", docs_bm25_batch, DOCS_BM25_BATCH_ORACLE),
        QueryDef("docs_decontamination", docs_decontamination, DOCS_DECONTAM_ORACLE),
        QueryDef("docs_stratified_sample", docs_stratified_sample, DOCS_STRATIFIED_ORACLE),
        QueryDef("docs_simhash_md5", docs_simhash_md5, DOCS_SIMHASH_ORACLE),
        QueryDef("docs_normalized", docs_normalized, DOCS_NORMALIZED_ORACLE),
        QueryDef("docs_html_extract", docs_html_extract, _docs_html_oracle()),
        # headline=False like every write-lifecycle gate: the bench
        # times query engines, not table-building fixtures.
        QueryDef(
            "orders_changelog_fold_iceberg",
            orders_changelog_fold_iceberg,
            ORDERS_CHANGELOG_FOLD_ORACLE,
            headline=False,
        ),
        # headline=False (r16): a strict SUBSET of docs_curation_v3's
        # composition — benching both double-charges the same stages;
        # the oracle gate stays (pytest test_oracle_parity).
        QueryDef(
            "docs_curation_v2", docs_curation_v2, DOCS_CURATION_V2_ORACLE,
            headline=False,
        ),
        QueryDef("docs_curation_v3", docs_curation_v3, DOCS_CURATION_V3_ORACLE),
        QueryDef("docs_stratified_cap", docs_stratified_cap, DOCS_STRATIFIED_CAP_ORACLE),
        # Domain-mixture resampling (epoch replication + fractional
        # tail): integer-part policy, BIGINT-exact oracle.
        QueryDef("docs_domain_mix", docs_domain_mix, DOCS_DOMAIN_MIX_ORACLE, headline=False),
        QueryDef("docs_pack_sequences", docs_pack_sequences, DOCS_PACK_ORACLE),
        QueryDef("emb_pca_knn", emb_pca_knn, EMB_PCA_KNN_ORACLE),
        QueryDef("docs_multimodal_stats", docs_multimodal_stats, DOCS_MULTIMODAL_ORACLE),
        QueryDef("docs_trigram_lm_score", docs_trigram_lm_score, DOCS_TRIGRAM_LM_ORACLE),
        QueryDef("docs_lang_confusion", docs_lang_confusion, DOCS_LANG_CONFUSION_ORACLE),
        QueryDef("docs_split_counts", docs_split_counts, DOCS_SPLIT_ORACLE, headline=False),
        QueryDef("docs_curation_pipeline", docs_curation_pipeline, DOCS_CURATION_ORACLE),
        QueryDef("docs_quality_score", docs_quality_score, DOCS_QUALITY_ORACLE, headline=False),
        QueryDef("emb_knn_brute", emb_knn_brute, EMB_KNN_ORACLE),
        QueryDef("emb_ivf_knn", emb_ivf_knn, EMB_IVF_ORACLE),
        QueryDef("emb_pq_knn", emb_pq_knn, EMB_PQ_ORACLE),
        # Bench-only scale twin (r16): bounded-shortlist production PQ
        # path; approximate by design, so no value oracle — rows-only
        # driver check in the tail, recall pytest-gated in test_ann_pq.
        QueryDef("emb_pq_knn_scale", emb_pq_knn_scale, None),
        # Same oracle as q1: the managed write/read path must be
        # analytically invisible. headline=False like the game e2e rows
        # (bench times the query surface, not bulk-load I/O).
        QueryDef("q1_via_managed_table", q1_via_managed_table, Q1_ORACLE, headline=False),
        # Same oracle as q1: the SQL-by-identifier surface must be
        # analytically invisible (and headline=False like the other
        # managed-path gates — bench times queries, not bulk loads).
        QueryDef("q1_via_sql_catalog", q1_via_sql_catalog, Q1_ORACLE, headline=False),
        # Same oracle as q1: the Delta export/log-replay-read cycle must
        # be analytically invisible (headline=False — bench times the
        # query surface, not export I/O).
        QueryDef("q1_via_delta_interop", q1_via_delta_interop, Q1_ORACLE, headline=False),
        # REAL Iceberg v2 interop end-to-end (r8 verdict #1): the
        # export/read cycle through write_iceberg/read_iceberg must be
        # analytically invisible (headline=False like the other
        # warehouse-building gates).
        QueryDef(
            "q1_via_iceberg_interop", q1_via_iceberg_interop, Q1_ORACLE,
            headline=False,
        ),
        # REAL Hudi CoW interop end-to-end (r8 verdict missing #1, the
        # Hudi half): write_hudi/read_hudi must be analytically
        # invisible to the q1 aggregate (decimal-sum variant — the
        # file-group re-bucketing changes double accumulation order).
        QueryDef(
            "q1_via_hudi_interop", q1_via_hudi_interop, Q1_DECIMAL_ORACLE,
            headline=False,
        ),
        # r12: hidden-partition PRUNING gated (X142/X140) — the scan
        # must open strictly fewer files (pinned in-gate) and match
        # the raw-orders oracle exactly.
        QueryDef(
            "orders_1996_iceberg_pruned",
            orders_1996_iceberg_pruned,
            ORDERS_1996_PRUNED_ORACLE,
            headline=False,
        ),
        # r13: SQL-TEXT WHERE drives the same file skipping
        # (sql.py _derive_pushdown) — the strictly-fewer-files pin
        # runs in-gate; same oracle.
        QueryDef(
            "orders_1996_sqltext_pruned",
            orders_1996_sqltext_pruned,
            ORDERS_1996_PRUNED_ORACLE,
            headline=False,
        ),
        # r13: the metadata-only predicate count — a month-aligned
        # date-range count(*) answered from manifest arithmetic with
        # a zero-data-scan pin in-gate; same raw-orders oracle family.
        QueryDef(
            "orders_1996_metadata_count",
            orders_1996_metadata_count,
            ORDERS_1996_COUNT_ORACLE,
            headline=False,
        ),
        # late-r14: keyless predicate UPDATE + DELETE as SQL text on a
        # foreign Delta path (X159) — two-phase surgical rewrite with
        # the carry-forward pin in-gate; the oracle models both
        # statements declaratively (CASE WHEN + anti-filter).
        QueryDef(
            "orders_dml_sqltext",
            orders_dml_sqltext,
            ORDERS_DML_SQLTEXT_ORACLE,
            headline=False,
        ),
        # late-r14 (TAIL registration, rotate per __spark_entry__):
        # the Iceberg lifecycle composition — UPDATE -> DELETE ->
        # BINPACK -> MANIFESTS, metadata-only pins in-gate, the Delta
        # twin's declarative oracle.
        QueryDef(
            "orders_dml_iceberg_lifecycle",
            orders_dml_iceberg_lifecycle,
            ORDERS_DML_SQLTEXT_ORACLE,
            headline=False,
        ),
        # r15 (TAIL registration, rotate per __spark_entry__): the
        # HUDI twin — keyless surgical predicate UPDATE + DELETE on a
        # CoW table with the only-matched-partitions slice pin
        # in-gate; the Delta twin's declarative oracle.
        QueryDef(
            "orders_dml_hudi",
            orders_dml_hudi,
            ORDERS_DML_SQLTEXT_ORACLE,
            headline=False,
        ),
        # r15 (TAIL registration, rotate per __spark_entry__): the
        # ZORDER proof-gate — a deliberately-scattered layout, the
        # Morton rewrite, and a strictly-fewer-files pin on a 2-D box
        # predicate both pre-vs-post and post-vs-total.
        QueryDef(
            "lineitem_zorder_skipping",
            lineitem_zorder_skipping,
            LINEITEM_ZORDER_ORACLE,
            headline=False,
        ),
        # r15 (TAIL registration, rotate per __spark_entry__): document
        # chunking — overlapping character windows, per-document md5
        # of the ordered chunk concatenation vs a LATERAL
        # generate_series oracle.
        QueryDef(
            "docs_chunking",
            docs_chunking,
            DOCS_CHUNKING_ORACLE,
            headline=False,
        ),
        # r15 (TAIL registration, rotate per __spark_entry__):
        # partition spec evolution — metadata-only pin, per-spec
        # pruning pins, the 1996-range oracle.
        QueryDef(
            "orders_spec_evolve_pruned",
            orders_spec_evolve_pruned,
            ORDERS_1996_PRUNED_ORACLE,
            headline=False,
        ),
        # r15 (TAIL registration, rotate per __spark_entry__):
        # SemDeDup-style semantic dedup — frozen-centroid assignment +
        # cluster-scoped keep-first pruning vs a window + NOT EXISTS
        # oracle.
        QueryDef(
            "emb_semantic_dedup",
            emb_semantic_dedup,
            EMB_SEMDEDUP_ORACLE,
            headline=False,
        ),
    ]
}


def _register_extensions() -> None:
    # Imported late: analytics.py imports QueryDef/load from this module.
    # If the user imported analytics FIRST, that module is mid-import
    # here (circular); the from-import raises ImportError and analytics
    # self-registers at its own bottom instead.
    try:
        from .analytics import ANALYTICS_QUERIES
    except ImportError:
        return

    for q in ANALYTICS_QUERIES:
        QUERIES[q.name] = q


_register_extensions()
