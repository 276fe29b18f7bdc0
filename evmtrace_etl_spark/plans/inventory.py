"""Operator-inventory queries over the driver's TPC-H-ish testdata.

Each SURVEY §2 operator family is exercised by at least one
oracle-checkable query over ``/root/testdata/sf*/`` parquet:

- multi-aggregate over one grouping (A1/A2/A7 analog)        → pricing_summary
- join + sort + limit (J-family, top-k)                       → top_revenue_orders
- left-semi join (J1 analog)                                  → order_priority_semi
- left-anti join (S8/D4 batch analog)                         → customers_without_orders
- window keep-last dedup (D1/D3)                              → latest_event_per_user
- window keep-first dedup (D2)                                → first_event_per_user
- conditional aggregation (A7/A8)                             → event_type_stats
- collect_set + sort_array (A3/A5)                            → user_event_sets
- unionByName of labeled branches (U1/J5)                     → union_high_balance
- broadcast dimension join (J6 analog)                        → brand_volume
- multi-hop join chain (J2→J3 analog)                         → region_revenue
- scalar selector extraction (P5/P6 analog)                   → props_selector
- typed JSON extraction (S3 strict-schema decode analog)      → props_json_stats
- gap-based sessionization (T1 batch analog)                  → user_sessions
- ROLLUP grouping sets + grouping_id (OLAP subtotal surface)  → revenue_rollup
- declared-values pivot (static output schema, single pass)   → user_event_pivot
- backward as-of join (union-tag merge, no inequality join)   → asof_attribution
- interval-containment range join (time-bucket equi-join)     → session_range_join
- ordered funnel w/ sequential constraint (staged min-chain)  → funnel_stages
- weekly cohort retention (distinct-collapse + broadcast rate) → cohort_retention
- INTERSECT / EXCEPT cohort set algebra                       → buyer_overlap
- CUBE grouping sets (all margins, one aggregate)             → order_cube
- strict-parse dead-letter table (S3 quarantine, row level)   → props_quarantine
- exact-percentile outlier flagging (broadcast threshold)     → value_outliers
- bounded-frame window moving average (ROWS BETWEEN)          → user_value_ma
- iterative PageRank, BIGINT fixed point (graph analytics)    → trade_pagerank
- SCD Type-2 interval build (gaps-and-islands + lead)         → scd2_user_state
- oriented-wedge triangle counting (market-basket graph)      → copurchase_triangles
- local clustering coefficient (graph cohesion profile)       → copurchase_clustering
- time-based RANGE-frame rolling 7-day window                 → user_value_7d
- association rules: support/confidence/lift (basket mining)  → basket_rules
- first-order Markov transition matrix (path analytics)       → event_transitions
- gap-filled daily date spine / resampling (time series)      → user_daily_spine
- disk-bucketed co-located join (zero-Exchange SMJ)           → bucketed_revenue
- incremental view maintenance (algebraic partial merge)      → incremental_rollup
- layout-preserving compaction round-trip (lake maintenance)  → compacted_events_stats
- z-order clustering round-trip + ranged scan (data skipping) → clustered_events_value
- manifest file-skipping serve over a stats snapshot          → fileskip_events_value
- snapshot-committed partitioned row-level delete (purge)     → snapshot_delete_purge
- composed read_table (file-skip + row-group + bloom tiers)   → read_table_week
- snapshot-committed row-level UPDATE (backfill)              → update_backfill
- exactly-once streaming lake ingest (txn-stamped commits)    → lake_stream_ingest
- OPTIMIZE-through-the-log compaction round-trip              → lake_compact_roundtrip

Determinism conventions for the driver's order-insensitive value-hash:
double aggregations are cast to DECIMAL before summing (exact, engine-
independent); collected sets are sorted and comma-joined; every computed
column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet has carried ts as either TIMESTAMP(NANOS) (older
        # generators — Spark's reader rejects nanos natively) or plain
        # TIMESTAMP(MICROS).  Normalize both to micros: with nanosAsLong
        # set, a nanos column surfaces as long and gets truncated exactly
        # the way DuckDB's TIMESTAMP_NS → TIMESTAMP read does; a micros
        # column arrives as timestamp and passes through.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        if df.schema["ts"].dataType.typeName().startswith("long"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif df.schema["ts"].dataType.typeName() == "timestamp_ntz":
            # driver oracle reads it as naive TIMESTAMP; align the type
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(col: str, scale: int = 6) -> F.Column:
    """Exact-sum guard: cast a double measure to decimal pre-aggregation so
    the sum is exact and order-independent (double sums are neither)."""
    return F.col(col).cast(f"decimal(20,{scale})")


# ---------------------------------------------------------------------------
# A-family: fused multi-aggregate (TPC-H Q1 shape)
# ---------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(20,6)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("decimal(38,6)").cast("string").alias("sum_qty"),
            F.sum(_dec("l_extendedprice"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("sum_disc_price"),
            F.sum(
                _dec("l_extendedprice")
                * (one - _dec("l_discount"))
                * (one + _dec("l_tax"))
            )
            .cast("decimal(38,6)")
            .cast("string")
            .alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_qty,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_base_price,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))
           * (CAST(1 AS DECIMAL(20,6)) - CAST(l_discount AS DECIMAL(20,6)))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_disc_price,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))
           * (CAST(1 AS DECIMAL(20,6)) - CAST(l_discount AS DECIMAL(20,6)))
           * (CAST(1 AS DECIMAL(20,6)) + CAST(l_tax AS DECIMAL(20,6)))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_charge,
  count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Join + sort + limit (TPC-H Q3 shape)
# ---------------------------------------------------------------------------

def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(20,6)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("decimal(38,6)")
            .alias("_revenue")
        )
        .orderBy(F.col("_revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_orderpriority",
            F.col("_revenue").cast("string").alias("revenue"),
        )
    )


TOP_REVENUE_ORDERS_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(_revenue AS VARCHAR) AS revenue
FROM (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))
             * (CAST(1 AS DECIMAL(20,6)) - CAST(l_discount AS DECIMAL(20,6)))) AS DECIMAL(38,6)) AS _revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY o_orderkey, o_orderdate, o_orderpriority
  ORDER BY _revenue DESC, o_orderkey ASC
  LIMIT 10
)
"""


# ---------------------------------------------------------------------------
# Left-semi join (J1 commit-filter analog)
# ---------------------------------------------------------------------------

def order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    returned = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(
            returned,
            orders.o_orderkey == returned.l_orderkey,
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


ORDER_PRIORITY_SEMI_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Left-anti join (batch cross-batch-dedup analog, S8/D4)
# ---------------------------------------------------------------------------

def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal", 2)).cast("decimal(38,2)").cast("string").alias("total_bal"),
        )
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_mktsegment, count(*) AS n_customers,
  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(20,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total_bal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Window dedup: keep-last (D1/D3) and keep-first (D2)
# ---------------------------------------------------------------------------

def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type", "ts", "value")
    )


# CAST(ts AS TIMESTAMP) truncates TIMESTAMP_NS → micros so both engines
# compare micro-truncated values (Spark reads ts div 1000) even if the
# generator ever emits sub-microsecond components.
LATEST_EVENT_PER_USER_SQL = """
WITH e AS (SELECT user_id, event_id, event_type,
                  CAST(ts AS TIMESTAMP) AS ts, value FROM events)
SELECT user_id, event_id, event_type, ts, value
FROM e
QUALIFY row_number() OVER (
  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


def first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type", "ts", "value")
    )


FIRST_EVENT_PER_USER_SQL = """
WITH e AS (SELECT user_id, event_id, event_type,
                  CAST(ts AS TIMESTAMP) AS ts, value FROM events)
SELECT user_id, event_id, event_type, ts, value
FROM e
QUALIFY row_number() OVER (
  PARTITION BY user_id ORDER BY ts ASC, event_id ASC) = 1
"""


# ---------------------------------------------------------------------------
# Conditional aggregation (A7/A8 analog)
# ---------------------------------------------------------------------------

def event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(_dec("value")).cast("decimal(38,6)").cast("string").alias("sum_value"),
        F.coalesce(
            F.sum(F.when(F.col("value") > 100.0, _dec("value"))),
            F.lit(0),
        )
        .cast("decimal(38,6)")
        .alias("sum_large"),
        F.sum(F.when(F.col("value") > 100.0, 1).otherwise(0)).alias("n_large"),
    )


EVENT_TYPE_STATS_SQL = """
SELECT event_type,
  count(*) AS n_events,
  count(DISTINCT user_id) AS n_users,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_value,
  CAST(CAST(coalesce(sum(CASE WHEN value > 100.0
                         THEN CAST(value AS DECIMAL(20,6)) END), 0) AS DECIMAL(38,6)) AS VARCHAR) AS sum_large,
  CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_large
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# collect_set + sort_array (A3/A5 analog)
# ---------------------------------------------------------------------------

def user_event_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


USER_EVENT_SETS_SQL = """
SELECT user_id,
  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
  count(*) AS n_events
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# unionByName of labeled branches (U1 analog)
# ---------------------------------------------------------------------------

def union_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000.0)
        .select(
            F.lit("customer").alias("kind"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").cast("decimal(20,2)").cast("string").alias("bal"),
        )
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000.0)
        .select(
            F.lit("supplier").alias("kind"),
            F.col("s_name").alias("name"),
            F.col("s_acctbal").cast("decimal(20,2)").cast("string").alias("bal"),
        )
    )
    return cust.unionByName(supp)


UNION_HIGH_BALANCE_SQL = """
SELECT 'customer' AS kind, c_name AS name,
       CAST(CAST(c_acctbal AS DECIMAL(20,2)) AS VARCHAR) AS bal
FROM customer WHERE c_acctbal > 9000.0
UNION ALL
SELECT 'supplier' AS kind, s_name AS name,
       CAST(CAST(s_acctbal AS DECIMAL(20,2)) AS VARCHAR) AS bal
FROM supplier WHERE s_acctbal > 9000.0
"""


# ---------------------------------------------------------------------------
# Broadcast dimension join (small-dim enrichment, J6 analog)
# ---------------------------------------------------------------------------

def brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(_dec("l_quantity")).cast("decimal(38,6)").cast("string").alias("total_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


BRAND_VOLUME_SQL = """
SELECT p_brand,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_qty,
  count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# Multi-hop join chain (region → nation → customer → orders)
# ---------------------------------------------------------------------------

def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(_dec("o_totalprice")).cast("decimal(38,6)").cast("string").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


REGION_REVENUE_SQL = """
SELECT r_name,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue,
  count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level revenue totals via ``ROLLUP(region, nation)`` — the
    OLAP grouping-sets surface: per-nation, per-region subtotal, and
    grand total in ONE aggregate.  ``grouping_id`` disambiguates the
    NULL-filled subtotal rows from real NULL keys.

    Scale note: rollup plans an Expand (each input row feeds every
    grouping set) — here that 3× duplication IS the operator's
    semantics, unlike the accidental count_distinct Expand this
    codebase avoids elsewhere; map-side partials still collapse per
    grouping set before the single shuffle.
    """
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum(_dec("o_totalprice"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


REVENUE_ROLLUP_SQL = """
SELECT r_name, n_name,
  CAST(grouping(r_name) * 2 + grouping(n_name) AS BIGINT) AS gid,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue,
  count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


#: The closed event-type domain for the pivot — a pivot's output schema
#: must be static, so the column list is declared, not inferred (the
#: same reason the stream decode declares its schema).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event counts pivoted to one column per event type —
    ``groupBy().pivot(values=...)`` with the value list DECLARED:
    passing explicit values keeps the plan a single pass (Spark
    otherwise runs an extra distinct job to discover them, and the
    output schema would depend on the data).  Unseen types produce 0
    columns, not missing ones."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


USER_EVENT_PIVOT_SQL = f"""
SELECT user_id,
  {", ".join(
    f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS n_{t}"
    for t in EVENT_TYPES
  )}
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Scalar selector extraction (P5/P6 analog on events.props)
# ---------------------------------------------------------------------------

def props_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sel = (
        F.when(F.col("props").isNull(), F.lit("----"))
        .when(F.length("props") > 4, F.substring("props", 1, 4))
        .otherwise(F.lit("----"))
    )
    return (
        ev.withColumn("selector", sel)
        .groupBy("selector")
        .agg(F.count(F.lit(1)).alias("n"))
    )


PROPS_SELECTOR_SQL = """
SELECT CASE WHEN props IS NULL THEN '----'
            WHEN length(props) > 4 THEN substr(props, 1, 4)
            ELSE '----' END AS selector,
       count(*) AS n
FROM events
GROUP BY 1
"""


def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction over ``events.props`` — the batch analog of
    S3's strict-schema payload decode: ``from_json`` against a declared
    schema (malformed/null rows surface as NULL fields, counted, never
    dropped silently — the quarantine-accounting convention), then one
    keyed rollup of the extracted value.

    Output: event_type, n_events, n_bad_props, k_sum, k_avg (6 dp).

    Scale shape: ``from_json`` is a JVM-side per-row projection (no
    Python, no shuffle); the only exchange is the final group-by.
    """
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k BIGINT")["k"].alias("_k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("_k").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_bad_props"),
            F.sum(F.col("_k").cast("long")).alias("k_sum"),
            F.round(
                F.sum(F.col("_k").cast("decimal(38,6)")).cast("double")
                / F.count(F.col("_k")),
                6,
            ).alias("k_avg"),
        )
    )


#: DuckDB restatement of Spark's strict typed parse ``from_json('k
#: BIGINT')``: only a JSON *number* that is integral extracts; quoted
#: numbers, floats, bools, arrays, malformed JSON all null out (pinned
#: case-by-case in tests/test_json_parity.py).
PROPS_K_SQL_EXPR = """
CASE WHEN json_type(TRY_CAST(props AS JSON), '$.k')
          IN ('BIGINT', 'UBIGINT')
     THEN TRY_CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS BIGINT)
END
""".strip()

PROPS_JSON_STATS_SQL = f"""
WITH p AS (SELECT event_type,
                  {PROPS_K_SQL_EXPR} AS k
           FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bad_props,
       CAST(sum(k) AS BIGINT) AS k_sum,
       round(CAST(sum(CAST(k AS DECIMAL(38,6))) AS DOUBLE) / count(k), 6)
         AS k_avg
FROM p GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Gap-based sessionization (T1 batch analog): 30-minute inactivity gap
# ---------------------------------------------------------------------------

def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    with_flag = ev.withColumn(
        "_new_session",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0),
    )
    with_sid = with_flag.withColumn(
        "session_id",
        F.sum("_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return with_sid.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_dec("value")).cast("decimal(38,6)").cast("string").alias("session_value"),
    )


USER_SESSIONS_SQL = """
WITH e AS (
  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts FROM events
),
flagged AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS _new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sessioned AS (
  SELECT user_id, value,
    sum(_new_session) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
  count(*) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS session_value
FROM sessioned
GROUP BY user_id, session_id
"""



# ---------------------------------------------------------------------------
# As-of join (backward attribution) + bucketed range join — the two
# time-series join operators Spark lacks as built-ins, expressed with
# the scale-correct strategies (union-tag merge / bucket equi-join)
# ---------------------------------------------------------------------------

def asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every 'purchase' event, the same user's most recent 'click'
    at-or-before it (ad attribution).  Exercises
    ``relational.asof_join``: ONE shuffle per side on user_id, one sort,
    zero join operators — where the naive ``c.ts <= p.ts`` inequality
    join degenerates at scale (pinned in tests/test_plan_shapes.py)."""
    from ..operators import relational

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    out = relational.asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        right_payload=["event_id", "ts"],
        right_tiebreak="event_id",
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.col("asof_event_id").alias("click_id"),
        F.unix_micros("asof_ts").alias("click_us"),
        (F.unix_micros("ts") - F.unix_micros("asof_ts")).alias("gap_us"),
    )


ASOF_ATTRIBUTION_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
  FROM events
),
p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
best AS (
  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
         c.ts AS click_ts,
         row_number() OVER (
           PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC
         ) AS rn
  FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
)
SELECT p.event_id AS purchase_id, p.user_id,
       epoch_us(p.ts) AS purchase_us,
       b.click_id,
       epoch_us(b.click_ts) AS click_us,
       epoch_us(p.ts) - epoch_us(b.click_ts) AS gap_us
FROM p LEFT JOIN best b ON b.purchase_id = p.event_id AND b.rn = 1
"""


def session_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase sessions (30-min gap) as time intervals, range-joined to
    the same user's 'error' events falling inside them — errors during a
    buying session.  Exercises ``relational.interval_join_bucketed``:
    the containment predicate becomes a (user, time-bucket) equi-join,
    never a nested-loop (pinned in tests/test_plan_shapes.py)."""
    from ..operators import relational

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    sess = (
        purchases.withColumn(
            "_ns", F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
        )
        .withColumn(
            "session_id",
            F.sum("_ns").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
            F.count(F.lit(1)).alias("n_purchases"),
        )
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = relational.interval_join_bucketed(
        sess,
        errors,
        on=["user_id"],
        start="s_start",
        end="s_end",
        point_time="ts",
    )
    hits = joined.groupBy("user_id", "session_id").agg(
        F.count("event_id").alias("n_errors"),
        F.sum(_dec("value")).cast("decimal(38,6)").cast("string")
        .alias("err_value"),
    )
    return sess.join(hits, ["user_id", "session_id"], "left").select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "n_purchases",
        F.coalesce("n_errors", F.lit(0)).cast("long").alias("n_errors"),
        "err_value",
    )


SESSION_RANGE_JOIN_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
  FROM events
),
p AS (SELECT user_id, ts, event_id FROM e WHERE event_type = 'purchase'),
flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS _ns
  FROM p
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sessioned AS (
  SELECT user_id, ts,
    sum(_ns) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
sessions AS (
  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         min(ts) AS s_start, max(ts) AS s_end,
         count(*) AS n_purchases
  FROM sessioned GROUP BY user_id, session_id
),
err AS (SELECT user_id, ts, value FROM e WHERE event_type = 'error')
SELECT s.user_id, s.session_id, s.n_purchases,
       CAST(count(er.ts) AS BIGINT) AS n_errors,
       CAST(CAST(sum(CAST(er.value AS DECIMAL(20,6))) AS DECIMAL(38,6))
            AS VARCHAR) AS err_value
FROM sessions s
LEFT JOIN err er
  ON er.user_id = s.user_id AND er.ts BETWEEN s.s_start AND s.s_end
GROUP BY s.user_id, s.session_id, s.n_purchases
"""



# ---------------------------------------------------------------------------
# Ordered funnel: view -> click -> purchase, each stage strictly at-or-
# after the previous stage's FIRST completion (classic product-analytics
# funnel with sequential-constraint semantics)
# ---------------------------------------------------------------------------

def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel: first 'view', first 'click' at-or-after it,
    first 'purchase' at-or-after that.  Output: user_id, stage epoch-us
    times (null where the user never progressed) and stages_completed.

    Scale shape: three stage tables derived by filtered min-aggregates
    (map-side partials over the pruned event-type scans), chained by
    user-keyed equi-joins carrying the running constraint — no windows
    over raw events, no self-join of the full table; each stage's
    input is only the users that survived the previous stage."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("view_us"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.unix_micros("ts").alias("_us"))
        .join(v, "user_id")
        .filter(F.col("_us") >= F.col("view_us"))
        .groupBy("user_id", "view_us")
        .agg(F.min("_us").alias("click_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("_us"))
        .join(c, "user_id")
        .filter(F.col("_us") >= F.col("click_us"))
        .groupBy("user_id", "view_us", "click_us")
        .agg(F.min("_us").alias("purchase_us"))
    )
    out = (
        v.join(c.select("user_id", "click_us"), "user_id", "left")
        .join(p.select("user_id", "purchase_us"), "user_id", "left")
    )
    stages = (
        F.lit(1)
        + F.when(F.col("click_us").isNotNull(), 1).otherwise(0)
        + F.when(F.col("purchase_us").isNotNull(), 1).otherwise(0)
    )
    return out.select(
        "user_id", "view_us", "click_us", "purchase_us",
        stages.cast("int").alias("stages_completed"),
    )


FUNNEL_STAGES_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
),
v AS (
  SELECT user_id, min(us) AS view_us FROM e
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, v.view_us, min(e.us) AS click_us
  FROM e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.us >= v.view_us
  GROUP BY e.user_id, v.view_us
),
p AS (
  SELECT e.user_id, min(e.us) AS purchase_us
  FROM e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.us >= c.click_us
  GROUP BY e.user_id
)
SELECT v.user_id, v.view_us, c.click_us, p.purchase_us,
  CAST(1 + (CASE WHEN c.click_us IS NOT NULL THEN 1 ELSE 0 END)
         + (CASE WHEN p.purchase_us IS NOT NULL THEN 1 ELSE 0 END)
       AS INT) AS stages_completed
FROM v
LEFT JOIN c ON c.user_id = v.user_id
LEFT JOIN p ON p.user_id = v.user_id
"""



# ---------------------------------------------------------------------------
# Weekly cohort retention (first-activity cohort x week offset)
# ---------------------------------------------------------------------------

def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users bucketed by first-activity ISO week; each later active week
    counts toward (cohort, offset).  Output: cohort_wk, week_offset,
    n_users, retention (share of the cohort's week-0 size, round 6).

    Scale shape: the raw stream collapses immediately to distinct
    (user, week) rows (map-side partials), cohorts derive from a
    user-keyed min-aggregate, and the rate denominator joins back as a
    broadcast of the offset-0 rows — key spaces are |users| then
    |cohorts × offsets|, never event volume."""
    ev = _t(spark, sf_dir, "events")
    wk = F.to_date(F.date_trunc("week", F.col("ts")))
    active = ev.select("user_id", wk.alias("wk")).distinct()
    cohort = active.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    g = (
        active.join(cohort, "user_id")
        .groupBy(
            "cohort_wk",
            (F.datediff("wk", "cohort_wk") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    size = g.filter(F.col("week_offset") == 0).select(
        "cohort_wk", F.col("n_users").alias("_size")
    )
    return g.join(F.broadcast(size), "cohort_wk").select(
        F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_wk"),
        "week_offset",
        "n_users",
        F.round(
            F.col("n_users").cast("double") / F.col("_size"), 6
        ).alias("retention"),
    )


COHORT_RETENTION_SQL = """
WITH e AS (
  SELECT user_id,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
  FROM events GROUP BY user_id, wk
),
c AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id),
g AS (
  SELECT c.cohort_wk,
         CAST(date_diff('day', c.cohort_wk, e.wk) // 7 AS INT)
           AS week_offset,
         count(*) AS n_users
  FROM e JOIN c ON e.user_id = c.user_id
  GROUP BY 1, 2
),
s AS (SELECT cohort_wk, n_users AS _size FROM g WHERE week_offset = 0)
SELECT CAST(g.cohort_wk AS VARCHAR) AS cohort_wk,
       g.week_offset, CAST(g.n_users AS BIGINT) AS n_users,
       round(CAST(g.n_users AS DOUBLE) / s._size, 6) AS retention
FROM g JOIN s ON g.cohort_wk = s.cohort_wk
"""



# ---------------------------------------------------------------------------
# INTERSECT / EXCEPT set operators (the set-op family beyond UNION)
# ---------------------------------------------------------------------------

def buyer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra over two behavioral cohorts: users with 'purchase'
    events vs users with 'error' events — INTERSECT (both), EXCEPT
    (clean buyers), labeled and unioned into one result.  Spark
    compiles both to aggregate-backed joins (left-semi / left-anti over
    distinct rows) — no sort-based set operator at any scale."""
    ev = _t(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    erring = ev.filter(F.col("event_type") == "error").select("user_id")
    both = buyers.intersect(erring).select(
        "user_id", F.lit("both").alias("cohort")
    )
    # subtract = SQL EXCEPT (set semantics); exceptAll would be the bag
    # variant and leak duplicate buyer rows through
    clean = buyers.subtract(erring).select(
        "user_id", F.lit("clean_buyer").alias("cohort")
    )
    return both.unionByName(clean)


BUYER_OVERLAP_SQL = """
WITH b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
SELECT user_id, 'both' AS cohort FROM (SELECT user_id FROM b INTERSECT SELECT user_id FROM e)
UNION ALL
SELECT user_id, 'clean_buyer' AS cohort FROM (SELECT user_id FROM b EXCEPT SELECT user_id FROM e)
"""



def order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CUBE(o_orderpriority, o_orderstatus)`` — all four grouping
    sets (detail, each single-dimension margin, grand total) in one
    aggregate; the CUBE complement of ``revenue_rollup``'s ROLLUP.
    Same Expand-by-design note applies (4× here)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.sum(_dec("o_totalprice"))
        .cast("decimal(38,6)")
        .cast("string")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


ORDER_CUBE_SQL = """
SELECT o_orderpriority, o_orderstatus,
  CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT)
    AS gid,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DECIMAL(38,6))
       AS VARCHAR) AS revenue,
  count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""



def props_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dead-letter TABLE for the strict typed parse — every event
    whose ``props`` payload fails S3-style decode, with the reason
    split the way a quarantine consumer needs it: ``malformed`` (not
    valid JSON at all — ``from_json`` nulls the whole struct) vs
    ``bad_k`` (valid JSON whose ``k`` is absent or not an integral
    number).  Complements ``props_json_stats``' aggregate accounting
    with the row-level surface an operator replays or fixes.

    Scale shape: one JVM-side per-row projection + a pushed-down
    filter; no shuffle at all (the quarantine is written as-is)."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        "event_type",
        "props",
        F.from_json(F.col("props"), "k BIGINT").alias("_s"),
    )
    reason = F.when(F.col("_s").isNull(), "malformed").otherwise("bad_k")
    return parsed.filter(
        F.col("_s").isNull() | F.col("_s")["k"].isNull()
    ).select("event_id", "event_type", "props", reason.alias("reason"))


PROPS_QUARANTINE_SQL = f"""
SELECT event_id, event_type, props,
  CASE WHEN TRY_CAST(props AS JSON) IS NULL THEN 'malformed'
       ELSE 'bad_k' END AS reason
FROM events
WHERE TRY_CAST(props AS JSON) IS NULL
   OR ({PROPS_K_SQL_EXPR}) IS NULL
"""



def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value exceeds their type's exact p99 — percentile-
    threshold outlier flagging.  The per-type threshold is a tiny
    aggregate broadcast back against the stream; the percentile is
    EXACT (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, both linear
    interpolation), so the flag set is deterministic.

    Output: event_id, event_type, value (round 6), p99 (round 6).
    Scale: one map-side-combined aggregate over (type) + a broadcast
    hash join — the event stream shuffles never."""
    ev = _t(spark, sf_dir, "events")
    thresh = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.99D)"), 6).alias("p99")
    )
    return (
        ev.join(F.broadcast(thresh), "event_type")
        .filter(F.round(F.col("value"), 6) > F.col("p99"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            "p99",
        )
    )


VALUE_OUTLIERS_SQL = """
WITH t AS (
  SELECT event_type, round(quantile_cont(value, 0.99), 6) AS p99
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, round(e.value, 6) AS value, t.p99
FROM events e JOIN t ON e.event_type = t.event_type
WHERE round(e.value, 6) > t.p99
"""



def user_value_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 4-event moving average of value (ROWS BETWEEN 3
    PRECEDING AND CURRENT ROW) — the bounded-frame window surface.
    Values decimal-cast inside the frame so the mean is exact and
    engine-independent; (ts, event_id) ordering makes frames
    deterministic.  Output: event_id, user_id, ma4 (round 6)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.sum(_dec("value")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            6,
        ).alias("ma4"),
    )


USER_VALUE_MA_SQL = """
SELECT event_id, user_id,
  round(CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE)
        / count(*) OVER w, 6) AS ma4
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC,
             event_id ASC ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


def trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier trade graph — the iterative
    distributed graph computation (see ``operators/graph.py`` for the
    exact-arithmetic design; the reference's J2/J3 operators build this
    kind of edge list, ``/root/reference/src/transformer/zk/mod.rs``).

    Edges: distinct (customer, supplier) trading relationships from
    orders ⋈ lineitem, emitted in BOTH directions so the graph is
    undirected and sink-free (every node has out-degree ≥ 1 — the
    documented no-dangling precondition).  3 power-iteration rounds in
    BIGINT fixed point: bit-exact across engines and partitionings.

    Output: node ('c:<custkey>' | 's:<suppkey>'), rank (BIGINT,
    units of 1e-12 probability mass).
    Scale: per round one edge-shuffle join + one keyed sum; rank state
    is node-sized; no collects, no floats, no global sorts."""
    from ..operators.graph import pagerank_fixed_point

    ords = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        ords.join(li, ords["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return pagerank_fixed_point(edges, rounds=3)


def _pagerank_iter_sql(prev: str, this: str) -> str:
    """One unrolled PageRank round as a DuckDB CTE (BIGINT fixed point,
    mirroring ``pagerank_fixed_point`` op for op; sums cast back to
    BIGINT because DuckDB widens SUM(BIGINT) to HUGEINT)."""
    return f"""
{this} AS (
  SELECT d.node, d.outdeg, d.n,
         CAST(3000000000000 AS BIGINT) // (CAST(20 AS BIGINT) * d.n)
         + (CAST(17 AS BIGINT) * COALESCE(c.m, CAST(0 AS BIGINT)))
           // CAST(20 AS BIGINT) AS rank
  FROM {prev} d LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM(r.rank // r.outdeg) AS BIGINT) AS m
    FROM edges e JOIN {prev} r ON e.src = r.node GROUP BY e.dst
  ) c ON c.node = d.node
)"""


TRADE_PAGERANK_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS c,
                  's:' || CAST(l.l_suppkey AS VARCHAR) AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
r0 AS (
  SELECT d.src AS node, d.outdeg, nn.n,
         CAST(1000000000000 AS BIGINT) // nn.n AS rank
  FROM deg d CROSS JOIN nn
),{_pagerank_iter_sql("r0", "r1")},{_pagerank_iter_sql("r1", "r2")},{_pagerank_iter_sql("r2", "r3")}
SELECT node, rank FROM r3
"""


def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: collapse each user's event stream into
    validity intervals of their current event_type (gaps-and-islands).
    The standard warehouse dimension-history materialization — change
    detection via lag(), island id via a running sum of change flags,
    interval close via lead() over the collapsed rows.

    Output: user_id, version (1-based change number), state
    (the event_type held), valid_from, valid_to (NULL = current),
    n_events (rows collapsed into the interval).
    Scale: two windows over the SAME (user_id) partitioning + one
    keyed aggregate — a single hash-partition by user reused across
    every step; no joins, no broadcast, nothing driver-side."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    flagged = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("chg"),
    ).withColumn("version", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    islands = flagged.groupBy("user_id", "version").agg(
        F.min("ts").alias("valid_from"),
        F.min("event_type").alias("state"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy(F.col("version").asc())
    return islands.select(
        "user_id",
        "version",
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )


SCD2_USER_STATE_SQL = """
WITH flagged AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC,
               event_id ASC)
),
numbered AS (
  SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
  FROM flagged
),
islands AS (
  SELECT user_id, version, MIN(ts) AS valid_from,
         MIN(event_type) AS state, count(*) AS n_events
  FROM numbered GROUP BY user_id, version
)
SELECT user_id, version, state, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version ASC)
         AS valid_to,
       n_events
FROM islands
"""


_COPURCHASE_EDGE_CTES = """li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
e AS (
  SELECT a, b FROM pairs GROUP BY a, b HAVING count(*) >= 2
)"""


def copurchase_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the co-purchase graph — the
    per-node cohesion measure composing the degree rollup and the
    oriented-wedge triangle counts over the SAME shared edge list
    (``operators/graph.py:clustering_coefficients``).

    Output: node, degree, n_triangles, clustering (round 6; 0.0 for
    degree-1 nodes by convention).
    Scale: two keyed aggregates + one node-keyed left join whose right
    side (triangle members) is at most node-sized."""
    from ..operators.graph import clustering_coefficients

    return clustering_coefficients(_copurchase_edges(spark, sf_dir))


COPURCHASE_CLUSTERING_SQL = f"""
WITH {_COPURCHASE_EDGE_CTES},
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
),
tcounts AS (SELECT node, count(*) AS n_triangles FROM corners GROUP BY node)
SELECT d.node, d.degree,
       COALESCE(t.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree < 2 THEN 0.0
            ELSE round(CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
                       / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
       END AS clustering
FROM deg d LEFT JOIN tcounts t ON t.node = d.node
"""


def user_value_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 7-day value total — the RANGE-frame window
    surface (time-based frames, vs ``user_value_ma``'s row-based
    ROWS frame).  The frame is defined on event-time MICROSECONDS
    (``unix_micros`` ≡ DuckDB ``epoch_us``) so both engines resolve
    frame membership at full timestamp precision; same-instant events
    are RANGE peers and appear in each other's frames, which makes the
    result independent of tie order.  Sums decimal-cast (exact,
    order-free).

    Output: event_id, user_id, v7d (round 6), n7d.
    Scale: one hash partition by user + one per-partition sort — the
    same shape every time-series rollup in this module reuses."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum(_dec("value")).over(w).cast("double"), 6).alias("v7d"),
        F.count(F.lit(1)).over(w).alias("n7d"),
    )


def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average (α = 0.25) of
    event values — the RECURSIVE per-key fold no window frame can
    express (each output depends on the previous output, not on a
    frame of inputs).  Expressed as a JVM-side ``aggregate`` HOF over
    the time-ordered value array: collect → array_sort on
    (ts, event_id, value) structs → sequential fold.  No Python.

    Determinism: α = 1/4 and 1−α = 3/4 are exact binary doubles and the
    fold order is total (ts, event_id), so every step performs the same
    two IEEE multiplies + add in the same sequence in both engines —
    the result is bit-identical, no decimal crutch needed.

    Output: user_id, n_events, ewma (round 6).
    Scale: one hash aggregate; per-group state is the user's event
    array (bounded: events-per-user, the same envelope every
    sessionization step in this module already assumes).  For unbounded
    keys this becomes the T1 stateful fold — same recurrence, streamed."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("_seq")
        )
        .select(
            "user_id",
            F.size("_seq").alias("n_events"),
            F.round(
                F.expr(
                    "aggregate(slice(transform(_seq, s -> s.value), 2,"
                    " size(_seq) - 1), transform(_seq, s -> s.value)[0],"
                    " (acc, x) -> 0.25D * x + 0.75D * acc)"
                ),
                6,
            ).alias("ewma"),
        )
    )


USER_VALUE_EWMA_SQL = """
SELECT user_id, CAST(len(vals) AS INTEGER) AS n_events,
       round(list_reduce(vals, (acc, x) -> 0.25 * x + 0.75 * acc), 6)
         AS ewma
FROM (
  SELECT user_id,
         list(value ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
           AS vals
  FROM events GROUP BY user_id
)
"""


USER_VALUE_7D_SQL = """
SELECT event_id, user_id,
  round(CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE), 6) AS v7d,
  count(*) OVER w AS n7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-≥2 co-purchase edge list (canonical a < b), shared by the
    triangle and clustering queries: narrow per-order pair generation
    (see ``copurchase_triangles`` docstring for the design)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (p, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "q -> struct(p AS a, q AS b))))"
            )
        ).alias("pr")
    ).select("pr.a", "pr.b")
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("a", "b")
    )


def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts on the part co-purchase graph — market-basket
    graph analytics with the skew-safe oriented-wedge algorithm
    (``operators/graph.py:triangle_counts``).

    Edges: part pairs co-purchased in the same order at least twice
    (the support-≥2 threshold is what makes basket graphs tractable:
    it prunes the quadratic one-off co-occurrence noise — here ~112k
    distinct pairs → ~3.4k support-2 edges at sf0.01 — exactly how frequent-
    itemset mining bounds its candidate lattice).

    Output: node (l_partkey), n_triangles.
    Scale: pair generation is NARROW — one per-order part-set rollup
    (order size ≤ 7 bounds the set) then an in-row nested transform
    emits the sorted pairs with no self-join at all (measured faster
    than the lineitem⋈lineitem formulation, and the plan drops a whole
    join stage); support counts ORDERS containing both parts (distinct
    per order, the basket-mining definition `basket_rules` also uses);
    the wedge join is degree-orientation-capped at O(m^1.5);
    everything else is keyed aggregation."""
    from ..operators.graph import triangle_counts

    return triangle_counts(_copurchase_edges(spark, sf_dir))


COPURCHASE_TRIANGLES_SQL = f"""
WITH {_COPURCHASE_EDGE_CTES},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, count(*) AS n_triangles FROM corners GROUP BY node
"""


def user_daily_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled per-user daily activity — the date-spine/resampling
    op every time-series report needs (a day with no events must appear
    as an explicit zero row, or downstream moving averages and
    charts silently skip it).

    Per user: a generated day spine from their first to their last
    active day (``sequence`` of dates, exploded — no calendar table,
    no join against a driver-side range), left-joined to the actual
    daily rollup, zeros filled.  Output: user_id, day (date), n_events,
    day_value (round 6).
    Scale: one keyed daily rollup, one per-user min/max aggregate, and
    a narrow in-row spine explosion (fan-out = user's active span in
    days); the spine-to-daily join is keyed on (user_id, day) — plain
    hash join, no inequality."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(_dec("value")).cast("double"), 6).alias("day_value"),
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("_d0"), F.max("day").alias("_d1")
    )
    spine = span.select(
        "user_id",
        F.explode(F.expr("sequence(_d0, _d1, interval 1 day)")).alias("day"),
    )
    return spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        # ISO string, the module's convention for date outputs (pandas
        # round-trips DATE inconsistently between the two engines)
        F.col("day").cast("string").alias("day"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
    )


USER_DAILY_SPINE_SQL = """
WITH daily AS (
  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         count(*) AS n_events,
         round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 6)
           AS day_value
  FROM events GROUP BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
),
span AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
),
spine_ts AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS dts
  FROM span
),
spine AS (SELECT user_id, CAST(dts AS DATE) AS day FROM spine_ts)
SELECT s.user_id, CAST(s.day AS VARCHAR) AS day,
       COALESCE(d.n_events, 0) AS n_events,
       COALESCE(d.day_value, 0.0) AS day_value
FROM spine s LEFT JOIN daily d
  ON d.user_id = s.user_id AND d.day = s.day
"""


def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over co-purchased part pairs — the
    support/confidence/lift stage of market-basket mining (the Apriori
    2-itemset level, which at 100 TB is the level you actually run:
    higher levels prune through this one's output).

    For each ordered pair (antecedent → consequent) with pair support
    ≥ 2 orders: support counts, confidence = P(b|a), and lift =
    confidence / P(b).  Integer counts all the way; the two ratios are
    single double divisions rounded at the end (the module's standard
    division discipline).

    Output: ante, cons, pair_orders, ante_orders, confidence (round 6),
    lift (round 6).
    Scale: pair generation is NARROW (one per-order part-set rollup,
    order size ≤ 7, then an in-row nested transform — no self-join);
    support aggregates UNORDERED pairs and mirrors the ≥2 survivors
    afterwards, halving the support-shuffle volume vs aggregating both
    rule directions; singles and n_orders derive from the same
    per-order rollup; n_orders is a broadcast scalar.  The singles
    joins carry NO broadcast hint: at TPC-H scale AQE broadcasts them
    anyway, but the part dimension grows with the catalog (billions of
    rows at 100 TB) while the support-filtered pair_n side shrinks
    with the threshold — the planner must stay free to pick the small
    side at runtime rather than be pinned into OOMing on the
    dimension."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (p, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "q -> struct(p AS a, q AS b))))"
            )
        ).alias("pr")
    ).select("pr.a", "pr.b")
    half = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .filter(F.col("pair_orders") >= 2)
    )
    # A rule is ordered (antecedent → consequent): mirror the small
    # aggregated survivor list, not the raw pair stream.
    pair_n = half.select(
        F.col("a").alias("ante"), F.col("b").alias("cons"), "pair_orders"
    ).unionByName(
        half.select(
            F.col("b").alias("ante"), F.col("a").alias("cons"), "pair_orders"
        )
    )
    singles = (
        per_order.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("part_orders"))
    )
    n_orders = per_order.agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        pair_n.join(
            singles.select(F.col("l_partkey").alias("ante"),
                           F.col("part_orders").alias("ante_orders")),
            "ante",
        )
        .join(
            singles.select(F.col("l_partkey").alias("cons"),
                           F.col("part_orders").alias("cons_orders")),
            "cons",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "ante",
            "cons",
            "pair_orders",
            "ante_orders",
            F.round(
                F.col("pair_orders").cast("double")
                / F.col("ante_orders").cast("double"),
                6,
            ).alias("confidence"),
            F.round(
                (F.col("pair_orders").cast("double")
                 / F.col("ante_orders").cast("double"))
                / (F.col("cons_orders").cast("double")
                   / F.col("n_orders").cast("double")),
                6,
            ).alias("lift"),
        )
    )


BASKET_RULES_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT x.l_partkey AS ante, y.l_partkey AS cons
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
),
pair_n AS (
  SELECT ante, cons, count(*) AS pair_orders
  FROM pairs GROUP BY ante, cons HAVING count(*) >= 2
),
singles AS (
  SELECT l_partkey, count(*) AS part_orders FROM li GROUP BY l_partkey
),
nn AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li)
SELECT p.ante, p.cons, p.pair_orders, sa.part_orders AS ante_orders,
  round(CAST(p.pair_orders AS DOUBLE) / CAST(sa.part_orders AS DOUBLE), 6)
    AS confidence,
  round((CAST(p.pair_orders AS DOUBLE) / CAST(sa.part_orders AS DOUBLE))
        / (CAST(sc.part_orders AS DOUBLE) / CAST(nn.n_orders AS DOUBLE)), 6)
    AS lift
FROM pair_n p
JOIN singles sa ON sa.l_partkey = p.ante
JOIN singles sc ON sc.l_partkey = p.cons
CROSS JOIN nn
"""


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: counts and probabilities of event_type → next event_type
    — the sequence-analytics primitive under path analysis, next-step
    prediction features, and funnel-leak diagnosis.

    Output: from_type, to_type, n_transitions, p (round 6 — transition
    probability conditioned on from_type).
    Scale: one per-user window (lead) on the module's shared user
    partitioning, one keyed rollup, and a per-from_type total via a
    second tiny aggregate joined back broadcast."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    steps = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("_tot")
    )
    return counts.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double") / F.col("_tot").cast("double"), 6
        ).alias("p"),
    )


EVENT_TRANSITIONS_SQL = """
WITH steps AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) ASC,
                                         event_id ASC) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n_transitions
  FROM steps WHERE to_type IS NOT NULL GROUP BY from_type, to_type
),
totals AS (
  SELECT from_type, CAST(sum(n_transitions) AS BIGINT) AS _tot
  FROM counts GROUP BY from_type
)
SELECT c.from_type, c.to_type, c.n_transitions,
       round(CAST(c.n_transitions AS DOUBLE) / CAST(t._tot AS DOUBLE), 6) AS p
FROM counts c JOIN totals t ON t.from_type = c.from_type
"""


# ---------------------------------------------------------------------------
# Disk-bucketed co-located join (write-time shuffle, zero-Exchange join)
# ---------------------------------------------------------------------------

#: fixture-build memo (same convention as the persisted IVF index): the
#: bucketed-table / materialized-view setup runs once per process, so a
#: registered row bills the SERVE path — exactly the amortization the
#: layout exists for.  Maps a build tag to the on-disk base it currently
#: serves (the base embeds sf_dir, so switching scale factors rebuilds
#: and re-points the shared catalog names instead of reading stale data).
_BUILD_DONE: dict[str, str] = {}


def bucketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority revenue off DISK-BUCKETED copies of orders and
    lineitem: both sides are written once with
    ``sinks.write_bucketed`` (bucketed + bucket-sorted by order
    key, 8 buckets), then joined bucket-to-bucket — the join itself
    plans with ZERO Exchange because each bucket scan already satisfies
    the join's required hash distribution; the only shuffle in the
    whole query is the final tiny groupBy.  Pinned in
    tests/test_plan_shapes.py (bucketed join: 0 Exchange, SMJ; same
    join off plain parquet: 2).

    This is the storage-layout answer to the reference's re-joined
    fact tables (contracts/transactions keyed by address and re-joined
    per degree, src/types/trace_tree.rs + plans/pipeline.py J2/J3): at
    100 TB you bucket the fact table on its join key at ingest and
    every downstream keyed join rides the layout instead of
    re-shuffling 100 TB per query.  Values are identical to the plain
    join, which is exactly what the oracle checks.
    """
    import tempfile

    from ..sinks import write_bucketed

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_bucketed",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    if _BUILD_DONE.get("bucketed_revenue") != base:
        write_bucketed(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
            "inv_bucketed_orders",
            key="o_orderkey",
            n_buckets=8,
            path=os.path.join(base, "orders"),
        )
        write_bucketed(
            _t(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
            ),
            "inv_bucketed_lineitem",
            key="l_orderkey",
            n_buckets=8,
            path=os.path.join(base, "lineitem"),
        )
        _BUILD_DONE["bucketed_revenue"] = base
    orders = spark.table("inv_bucketed_orders")
    li = spark.table("inv_bucketed_lineitem")
    one = F.lit(1).cast("decimal(20,6)")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_dec("l_quantity"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_qty"),
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("revenue"),
        )
    )


BUCKETED_REVENUE_SQL = """
SELECT o_orderpriority,
  count(*) AS n_lines,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_qty,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))
           * (CAST(1 AS DECIMAL(20,6)) - CAST(l_discount AS DECIMAL(20,6)))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (algebraic partial-agg merge)
# ---------------------------------------------------------------------------

def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue rollup maintained INCREMENTALLY: the pre-cutoff
    BASE aggregate is materialized to parquet once (the nightly
    materialized view), and serving merges it with the partial
    aggregate of only the post-cutoff DELTA orders — the base FACTS
    are scanned zero times at serve.

    This is algebraic incremental view maintenance: sum/count/max are
    mergeable partials (sum-of-sums, sum-of-counts, max-of-maxes), so
    refreshing the view costs O(delta + |view|) instead of O(all
    facts) — at 100 TB the difference between a minutes-long nightly
    job touching one day of data and a full-table rescan.  DECIMAL
    partials keep the merge bit-exact, which is precisely what the
    oracle (a flat full recompute over ALL orders) checks.
    """
    import tempfile

    cutoff = F.lit("1996-01-01").cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month")
        ).agg(
            F.sum(_dec("o_totalprice")).cast("decimal(38,6)").alias("_sum"),
            F.count(F.lit(1)).alias("_cnt"),
            F.max(_dec("o_totalprice")).alias("_max"),
        )

    base_path = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_incr_rollup",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    orders = _t(spark, sf_dir, "orders")
    # nightly leg: materialize the base-period aggregate (tiny: one row
    # per month) — once per process per sf_dir, so the registered row
    # bills the SERVE path (same memo convention as the IVF index)
    if _BUILD_DONE.get("incremental_rollup") != base_path:
        partial(orders.filter(F.col("o_orderdate") < cutoff)).write.mode(
            "overwrite"
        ).parquet(base_path)
        _BUILD_DONE["incremental_rollup"] = base_path
    # serve leg: merge the stored view with the delta's partial agg
    base = spark.read.parquet(base_path)
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("_sum").cast("decimal(38,6)").cast("string").alias("revenue"),
            F.sum("_cnt").cast("long").alias("n_orders"),
            F.max("_max").cast("string").alias("max_price"),
        )
    )


INCREMENTAL_ROLLUP_SQL = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS revenue,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(max(CAST(o_totalprice AS DECIMAL(20,6))) AS VARCHAR) AS max_price
FROM orders
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Compaction round-trip under the driver gate
# ---------------------------------------------------------------------------

def compacted_events_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event stats computed over a COMPACTED copy of events —
    this registers the lake-maintenance path under the driver's
    continuous correctness gate: the build leg lands events as four
    appends to a lake table partitioned by ``event_type`` (one small
    file per directory per append) and
    ``sinks.compact_table`` rewrites each directory within its file
    budget through one snapshot commit (hive layout preserved); the
    serve leg aggregates over the COMPACTED table (``read_table``)
    while the oracle recomputes over the ORIGINAL table, so any row the
    rewrite loses, duplicates, or mutates fails the value hash.  Build
    memoized per sf_dir (the registered row bills the serve scan, same
    convention as the bucketed/rollup fixtures above).
    """
    import shutil
    import tempfile

    from ..sinks import append_files, compact_table, read_table

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_compacted",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("compacted_events") != base:
        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        for i in range(4):
            append_files(
                spark,
                ev.filter(F.col("event_id") % 4 == i),
                tbl,
                cols=["event_id"],
                partition_by=["event_type"],
            )
        compact_table(spark, tbl, target_bytes=1 << 20)
        _BUILD_DONE["compacted_events"] = base
    ev = read_table(spark, tbl)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_dec("value"))
        .cast("decimal(38,6)")
        .cast("string")
        .alias("total_value"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


COMPACTED_EVENTS_STATS_SQL = """
SELECT event_type,
  count(*) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(min(event_id) AS BIGINT) AS min_event_id,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Z-order clustering round-trip under the driver gate
# ---------------------------------------------------------------------------

def clustered_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranged event stats computed over a Z-ORDER-CLUSTERED copy of
    events — the data-skipping layout under the driver's continuous
    correctness gate: the build leg lands events in a lake table and
    re-lays it out with ``sinks.cluster_table(zorder=True)`` on
    ``(ts, value)`` (quantile buckets Morton-interleaved,
    range-partitioned + sorted on the z-value), and the serve leg runs
    a two-sided range predicate on exactly those keys through
    ``read_table`` — the manifest prunes files and the pushed filter
    prunes row groups off the footer stats the rewrite created (skip
    fractions measured in tests/test_clustering.py).  The oracle
    recomputes over the ORIGINAL table, so any row the layout rewrite
    loses, duplicates, or mutates fails the value hash.  Build memoized per sf_dir (the registered
    row bills the clustered serve scan, same convention as the
    compaction gate above).

    At 100 TB this is why a range-heavy workload clusters its fact
    table: pushdown alone reads every row group of a random layout;
    after z-ordering, a predicate on EITHER clustered key reads a
    fraction (tests measure ≤55% at even this toy granularity, and the
    benefit grows with file count — selectivity-bound at lake scale).
    """
    import datetime
    import shutil
    import tempfile

    from ..sinks import append_files, cluster_table, read_table

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_clustered",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("clustered_events") != base:
        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
        append_files(spark, ev.repartition(8), tbl, cols=["ts", "value"])
        cluster_table(
            spark,
            tbl,
            ["ts", "value"],
            target_bytes=1 << 16,
            zorder=True,
            n_buckets=8,
        )
        _BUILD_DONE["clustered_events"] = base
    # the manifest prunes on the closed hull of the exact filter below
    # (UTC, the session time zone the string casts resolve in)
    lo, hi = (
        datetime.datetime(2024, 1, d, tzinfo=datetime.timezone.utc)
        for d in (8, 15)
    )
    ev = read_table(spark, tbl, {"ts": (lo, hi), "value": (20.0, 60.0)})
    lo_ts = F.lit("2024-01-08 00:00:00").cast("timestamp")
    hi_ts = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return (
        ev.filter(
            (F.col("ts") >= lo_ts)
            & (F.col("ts") < hi_ts)
            & (F.col("value") >= 20.0)
            & (F.col("value") < 60.0)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


CLUSTERED_EVENTS_VALUE_SQL = """
SELECT event_type,
  count(*) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(min(event_id) AS BIGINT) AS min_event_id,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events
WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15 00:00:00'
  AND value >= 20.0 AND value < 60.0
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# File-skipping manifest under the driver gate
# ---------------------------------------------------------------------------

def fileskip_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranged event stats served through a persisted FILE-SKIPPING
    manifest — the lakehouse-manifest complement of the row-group gate
    above: the build leg lands events in a lake table and linearly
    clusters it on ``ts`` into many small files (``cluster_table``;
    files tile disjoint ts-ranges), whose commit stamps the footer-only
    per-file min/max manifest — the table the planner filters INSTEAD
    of touching every footer per query; the serve leg
    (``read_table``) keeps only files whose span can overlap the
    week-long predicate (NULL stats conservatively kept), scans just
    those, and applies the exact half-open row filter on top.  The
    oracle recomputes over the ORIGINAL table, so a manifest that
    prunes a matching file (wrong skip) or the rewrite losing/mutating
    rows fails the value hash every round.  Build + manifest memoized
    per sf_dir; the registered row bills the pruned serve scan.

    At 100 TB this is why table formats carry stats manifests: partition
    pruning is directory-granular and row-group pruning still opens
    every file's footer; the manifest makes "which files can match" a
    metadata-table filter of O(files) rows.  Skipping measured in
    tests/test_fileskip.py; correctness (pruned == unpruned) both there
    and here under the driver gate.
    """
    import datetime
    import shutil
    import tempfile

    from ..sinks import append_files, cluster_table, read_table

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_fileskip",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("fileskip_events") != base:
        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
        append_files(spark, ev.repartition(8), tbl, cols=["ts"])
        cluster_table(spark, tbl, ["ts"], target_bytes=1 << 16)
        _BUILD_DONE["fileskip_events"] = base
    lo = datetime.datetime(2024, 1, 8)
    hi = datetime.datetime(2024, 1, 15)
    ev = read_table(spark, tbl, {"ts": (lo, hi)})
    return (
        ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.min("user_id").alias("min_user_id"),
            F.max("user_id").alias("max_user_id"),
        )
    )


FILESKIP_EVENTS_VALUE_SQL = """
SELECT event_type,
  count(*) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(min(user_id) AS BIGINT) AS min_user_id,
  CAST(max(user_id) AS BIGINT) AS max_user_id
FROM events
WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15 00:00:00'
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Snapshot-committed delete + composed read path under the driver gate
# ---------------------------------------------------------------------------

def snapshot_delete_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention purge on a HIVE-PARTITIONED bare-parquet table through
    the snapshot-committed ``sinks.delete_where``: the build leg writes
    an events copy partitioned by ``event_type`` with an in-table stats
    manifest (``ts`` footer stats + directory-derived partition-column
    stats), then deletes one week of one partition's rows — the
    manifest prunes the rewrite to the files of THAT partition
    overlapping THAT week, survivors are rewritten back into their
    original partition directory, and the refreshed manifest commits
    atomically before the old files are swept (crash anywhere leaves a
    snapshot reader on exactly one committed version — the
    crash-injection tests in tests/test_fileskip.py pin both windows).
    The serve leg reads the remainder THROUGH the snapshot
    (``read_table``) and rolls it up; the oracle recomputes the
    complement over the ORIGINAL events table, so a lost survivor, a
    resurrected deleted row, or a corrupted partition value fails the
    value hash every round.

    At 100 TB this is the right-to-erasure primitive on partitioned
    data: the rewrite touches one partition's week-tile, untouched
    partitions keep their inodes, and readers never see a half-applied
    delete.  Build memoized per sf_dir; re-running the delete is a
    zero-candidate no-op, so the serve leg is idempotent.
    """
    import datetime
    import tempfile

    from ..sinks import delete_where, read_table, update_stats_index

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_snapdelete",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    lo = datetime.datetime(2024, 1, 8)
    hi = datetime.datetime(2024, 1, 15)
    if _BUILD_DONE.get("snapshot_delete") != base:
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
        ev.repartition(8).write.mode("overwrite").partitionBy(
            "event_type"
        ).parquet(tbl)
        update_stats_index(spark, tbl, ["ts", "event_type"])
        delete_where(
            spark, tbl, {"event_type": "click", "ts": (lo, hi)}
        )
        _BUILD_DONE["snapshot_delete"] = base
    return (
        read_table(spark, tbl)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.min("user_id").alias("min_user_id"),
            F.max("user_id").alias("max_user_id"),
        )
    )


SNAPSHOT_DELETE_PURGE_SQL = """
SELECT event_type,
  count(*) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(min(user_id) AS BIGINT) AS min_user_id,
  CAST(max(user_id) AS BIGINT) AS max_user_id
FROM events
WHERE NOT (
  event_type = 'click'
  AND CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '2024-01-08 00:00:00'
                                AND TIMESTAMP '2024-01-15 00:00:00'
)
GROUP BY event_type
"""


def read_table_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One week of one event type served through the COMPOSED
    ``sinks.read_table`` entry point — the single call that stacks
    every skipping tier the storage layer built this survey: the build
    leg lands events in a lake table and linearly clusters it on ``ts``
    into many small files with a parquet bloom filter on ``user_id``
    (``cluster_table``), one snapshot commit that also stamps the
    table's stats manifest; the serve leg passes ONE predicate dict
    and gets (1) manifest FILE skipping on the ts range, (2) row-group
    min/max skipping inside the surviving files (the clustered layout),
    (3) the equality predicate pushed as ``Eq`` so bloom/dictionary
    page skipping stays armed — then the exact row condition on top.
    The oracle recomputes over the ORIGINAL table: a wrong file skip, a
    stale snapshot, or a predicate translation bug fails the value hash
    every round.  Skip ratios and the pushed-Eq plan shape are pinned
    in tests/test_fileskip.py.

    At 100 TB this is the read path a lakehouse table format sells:
    callers state predicates once; file, row-group, and page pruning
    compose from the manifest + layout without the query mentioning
    either.  Build memoized per sf_dir; the registered row bills the
    composed serve scan.
    """
    import datetime
    import shutil
    import tempfile

    from ..sinks import append_files, cluster_table, read_table

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_readtable",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("read_table_week") != base:
        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
        append_files(spark, ev.repartition(8), tbl, cols=["ts"])
        cluster_table(
            spark, tbl, ["ts"], target_bytes=1 << 16, bloom_cols=["user_id"]
        )
        _BUILD_DONE["read_table_week"] = base
    lo = datetime.datetime(2024, 1, 8)
    hi = datetime.datetime(2024, 1, 15)
    ev = read_table(
        spark, tbl, {"ts": (lo, hi), "event_type": "view"}
    )
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_dec("value"))
        .cast("decimal(38,6)")
        .cast("string")
        .alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


READ_TABLE_WEEK_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE event_type = 'view'
  AND CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '2024-01-08 00:00:00'
                                AND TIMESTAMP '2024-01-15 00:00:00'
"""


def update_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE (``sinks.update_where``) under the driver gate —
    the rectification/backfill primitive: the build leg lands an events
    copy in a lake table and ts-clusters it (``cluster_table``), then
    doubles
    ``value`` for one week of ``purchase`` rows through the snapshot
    transaction engine (manifest prunes the rewrite to the files tiling
    that week on the ts stats; the unindexed ``event_type`` predicate
    applies exactly at row level; non-matching rows in rewritten files
    pass through bit-untouched; the refreshed manifest commits
    atomically).  The serve leg reads the WHOLE table through the
    snapshot and rolls up per event_type, so the oracle — which
    recomputes the update as a CASE expression over the ORIGINAL
    events — catches a lost row, a torn update, an update leaking
    outside the predicate, or a doubled double that isn't bit-exact
    (value * 2.0 is exponent-exact in IEEE 754, no rounding ambiguity
    across engines).

    At 100 TB: UPDATE-where on a ts-clustered table rewrites the
    week-tile files only; cardinality never changes (asserted by
    rows_before == rows_after in the ledger tests).  Build memoized per
    sf_dir; re-running the update would double again, so the memo (and
    the driver's fresh process per run) matters — the serve leg itself
    is read-only.
    """
    import datetime
    import shutil
    import tempfile

    from ..sinks import append_files, cluster_table, read_table, update_where

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_updwhere",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    lo = datetime.datetime(2024, 1, 8)
    hi = datetime.datetime(2024, 1, 15)
    if _BUILD_DONE.get("update_backfill") != base:
        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
        append_files(spark, ev.repartition(8), tbl, cols=["ts"])
        cluster_table(spark, tbl, ["ts"], target_bytes=1 << 16)
        update_where(
            spark,
            tbl,
            {"event_type": "purchase", "ts": (lo, hi)},
            {"value": "value * 2.0"},
        )
        _BUILD_DONE["update_backfill"] = base
    return (
        read_table(spark, tbl)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
        )
    )


UPDATE_BACKFILL_SQL = """
SELECT event_type,
  count(*) AS n_events,
  CAST(CAST(sum(CAST(
    CASE WHEN event_type = 'purchase'
          AND CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '2024-01-08 00:00:00'
                                        AND TIMESTAMP '2024-01-15 00:00:00'
         THEN value * 2.0 ELSE value END
    AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value
FROM events
GROUP BY event_type
"""


def _lake_stream_build(spark: SparkSession, sf_dir: str) -> str:
    """Shared build leg: stage events as parquet arrival files and
    stream them into a manifest-tracked lake table via exactly-once
    txn-stamped snapshot commits (memoized per sf_dir).  Returns the
    table path; both the ingest and the compaction queries serve off
    it."""
    import tempfile

    from ..sinks import start_lake_append_stream

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakestream",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    incoming = os.path.join(base, "incoming")
    tbl = os.path.join(base, "events")
    ckpt = os.path.join(base, "ckpt")
    if _BUILD_DONE.get("lake_stream") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
        ev.repartition(6).write.mode("overwrite").parquet(incoming)
        schema = spark.read.parquet(incoming).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(incoming)
        )
        q = start_lake_append_stream(
            stream, tbl, ckpt, cols=["ts"], app_id="inv_lake"
        )
        # repo convention (plans/sink_parity.py): a timed-out build must
        # fail loudly, never memoize a partially-ingested table
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "lake_stream build did not finish within 300s"
            )
        _BUILD_DONE["lake_stream"] = base
    return tbl


def lake_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming ingest into the manifest-tracked lake
    table (``sinks.start_lake_append_stream``): the build leg stages
    events as parquet arrival files, streams them through a
    checkpointed ``foreachBatch`` where every micro-batch lands as ONE
    txn-stamped snapshot commit (``append_files`` — file move-in before
    the atomic manifest commit, batch-id in the carried txn map, so a
    checkpoint replay after a crash is a no-op; crash-injection +
    restart legs pinned in tests/test_fileskip.py), then the serve leg
    rolls up the ingested table through the snapshot (``read_table``).
    The oracle recomputes over the ORIGINAL events: a dropped batch, a
    replayed batch (double count), or a torn commit fails the value
    hash every round — this is the end-to-end gate that the streaming
    half and the maintenance half of the lakehouse tier commit through
    the SAME log.

    At 100 TB this is how a streaming lake stays consistent: ingest
    commits are idempotent per batch id (Delta's txn action), readers
    resolve file lists through the snapshot, and the compaction/delete/
    update maintenance ops interleave with ingest without torn reads.
    Stream runs once per process per sf_dir (memoized); the registered
    row bills the snapshot-served rollup.
    """
    from ..sinks import read_table

    return (
        read_table(spark, _lake_stream_build(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


LAKE_STREAM_INGEST_SQL = """
SELECT event_type,
  count(*) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(min(event_id) AS BIGINT) AS min_event_id,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events
GROUP BY event_type
"""


def lake_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-through-the-log round-trip (``sinks.compact_table``):
    the streaming build leg leaves the lake table fragmented (one file
    set per txn-stamped micro-batch commit); this query compacts the
    fragments in ONE snapshot transaction — new files move in
    unreferenced, the manifest commits atomically (fragments out,
    compacted files in), fragments swept only after — then serves a
    rollup through the snapshot.  The oracle recomputes over the
    ORIGINAL events, so a row lost/duplicated by the rewrite, a torn
    commit, or a manifest that references swept files fails the value
    hash every round.  Compaction is value-neutral BY CONTRACT
    (rows_before == rows_after in the ledger; the multiset equality is
    what this gate checks end-to-end).

    At 100 TB: a continuously-ingesting lake runs this off the hot path
    without pausing readers — the reader on the old snapshot finishes
    against the old fragments, the next one plans against the compacted
    layout.  Build (stream + compact) memoized per sf_dir; the
    registered row bills the snapshot-served rollup.
    """
    from ..sinks import compact_table, read_table

    tbl = _lake_stream_build(spark, sf_dir)
    if _BUILD_DONE.get("lake_compact") != tbl:
        compact_table(spark, tbl, target_bytes=1 << 26)
        _BUILD_DONE["lake_compact"] = tbl
    return (
        read_table(spark, tbl)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


LAKE_COMPACT_ROUNDTRIP_SQL = """
SELECT event_type,
  count(*) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


def _lake_merge_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_merge_upsert``: seed a manifest-tracked,
    event_id-range-clustered lake table with 30% STALE values, then
    repair it with one keyed MERGE (update + insert legs in one
    snapshot commit), replay the merge's txn id (must no-op), and run
    a DO-NOTHING merge whose existing-key rows carry poison values
    that must NOT land.  Memoized per sf_dir."""
    import os
    import tempfile

    from ..sinks import append_files, merge_into

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakemerge",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_merge") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
        cut = ev.agg(F.expr("max(event_id) div 3")).collect()[0][0]
        stale = ev.withColumn(
            "value",
            F.when(F.col("event_id") <= cut, F.lit(-1.0)).otherwise(
                F.col("value")
            ),
        )
        # range-clustered seed: the correction merge prunes to the
        # files tiling event_id <= cut, not the table
        append_files(
            spark,
            stale.repartitionByRange(6, "event_id").sortWithinPartitions(
                "event_id"
            ),
            tbl,
            cols=["event_id"],
        )
        corrections = ev.filter(F.col("event_id") <= cut)
        merged_rows = ev.filter(F.col("event_id") % 10 == 7).select(
            (F.col("event_id") + 1_000_000_000).alias("event_id"),
            "user_id",
            F.lit("merged").alias("event_type"),
            "ts",
            "value",
        )
        src = corrections.unionByName(merged_rows)
        merge_into(
            spark, src, tbl, keys=["event_id"], txn=("inv_merge", 1)
        )
        # checkpoint replay of the same batch id: exactly-once no-op
        replay = merge_into(
            spark, src, tbl, keys=["event_id"], txn=("inv_merge", 1)
        )
        assert replay["skipped"]
        # DO NOTHING: existing keys carry poison (-999) that must not
        # land; genuinely-new keys insert
        ignore_src = ev.filter(F.col("event_id") % 10 == 5).withColumn(
            "value", F.lit(-999.0)
        ).unionByName(
            ev.filter(F.col("event_id") % 10 == 4).select(
                (F.col("event_id") + 2_000_000_000).alias("event_id"),
                "user_id",
                F.lit("ignored").alias("event_type"),
                "ts",
                "value",
            )
        )
        merge_into(spark, ignore_src, tbl, keys=["event_id"], mode="ignore")
        _BUILD_DONE["lake_merge"] = base
    return tbl


def lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE INTO through the snapshot log (``sinks.merge_into``
    — the reference's blocks DO-UPDATE upsert, etl_result.rs:267-281 /
    postgres.rs:41-92, on the R19 lake tier): the build leg seeds the
    lake table with 30% stale values over an event_id-range-clustered
    layout, repairs them with ONE keyed merge whose update leg
    rewrites only the manifest-pruned files tiling the stale key span
    and whose insert leg lands unmatched keys in the same atomic
    commit, replays the merge's txn id (exactly-once: a no-op), then
    runs a DO-NOTHING merge carrying poison values on existing keys.
    The serve leg rolls the table up through the snapshot
    (``read_table``); the oracle recomputes the expected final state
    from the ORIGINAL events — an uncorrected stale value, a poison
    value that landed, a lost/duplicated insert, or a double-applied
    replay fails the value hash every round.

    At 100 TB this is the dimension-upsert-into-a-streamed-fact-table
    day-one case: updates prune by key range (cluster the table on the
    merge key), inserts ride the same commit, and replays are no-ops
    per batch id."""
    from ..sinks import read_table

    return (
        read_table(spark, _lake_merge_build(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


def _lake_evo_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_schema_evolution``: two append commits with
    DIFFERENT schemas — the even-event_id half lands first as
    (event_id, user_id, value); the odd half then lands with an ADDED
    ``lang`` column (the add-only evolution path: the commit marker
    carries the evolved schema, the manifest's old files null-fill).
    Memoized per sf_dir."""
    import os
    import tempfile

    from ..sinks import append_files

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakeevo",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_evo") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        append_files(
            spark, ev.filter(F.col("event_id") % 2 == 0), tbl,
            cols=["event_id"],
        )
        evolved = (
            _t(spark, sf_dir, "events")
            .filter(F.col("event_id") % 2 == 1)
            .select(
                "event_id",
                "user_id",
                "value",
                F.col("event_type").alias("lang"),
            )
        )
        append_files(spark, evolved, tbl)
        _BUILD_DONE["lake_evo"] = base
    return tbl


def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD-ONLY schema evolution on the lake path end-to-end (r9
    verdict ask #4, ``sinks._evolved_schema``/``committed_schema``):
    the build leg appends the even-event_id half of events under the
    original 3-column schema, then the odd half with an ADDED ``lang``
    column — the second commit stamps the evolved schema into the log,
    and the serve leg reads the WHOLE table through the snapshot
    (``read_table``), where the first commit's files null-fill the
    evolved column under the committed schema.  The rollup counts rows
    with/without the evolved column and decimal-sums ``value`` across
    both schema generations; the oracle recomputes from the raw events
    — a dropped/duplicated half, a misaligned column, or a
    wrongly-filled evolved value fails the value hash every round.

    At 100 TB this is the day-two lake operation: a producer adds a
    field, history stays readable under one schema, and no backfill
    rewrite of old files is needed."""
    from ..sinks import read_table

    return read_table(spark, _lake_evo_build(spark, sf_dir)).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("lang").alias("n_with_lang"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(_dec("value"))
        .cast("decimal(38,6)")
        .cast("string")
        .alias("total_value"),
        F.max("event_id").alias("max_event_id"),
    )


LAKE_SCHEMA_EVOLUTION_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(CASE WHEN event_id % 2 = 1 THEN event_type END) AS BIGINT)
    AS n_with_lang,
  CAST(count(DISTINCT CASE WHEN event_id % 2 = 1 THEN event_type END)
    AS BIGINT) AS n_langs,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR)
    AS total_value,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events
"""


def _lake_changes_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_changes_feed``: two append commits — the
    non-multiple-of-3 event_ids land as snapshot v0, the multiples of
    3 as v1 — so the append-span CDC read since v0 is exactly the
    second commit's rows.  Memoized per sf_dir."""
    import os
    import tempfile

    from ..sinks import append_files

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakechanges",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_changes") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        append_files(
            spark, ev.filter(F.col("event_id") % 3 != 0), tbl,
            cols=["event_id"],
        )
        append_files(spark, ev.filter(F.col("event_id") % 3 == 0), tbl)
        _BUILD_DONE["lake_changes"] = base
    return tbl


def lake_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-span CDC through the snapshot log
    (``sinks.table_changes``): the build leg lands two append commits;
    the serve leg asks for everything committed AFTER snapshot v0 and
    rolls it up — the incremental-consumption primitive a downstream
    pipeline polls instead of re-reading the table (Delta's
    streaming-source-from-a-table for the append-only case).  The read
    is served from the DELTA FILES alone (current file set minus v0's
    — at 100 TB a poll touches the new batches, never the table), and
    the oracle recomputes the second commit's rows relationally — a
    changes feed that leaked v0 rows, dropped a new file, or
    double-served one fails the value hash every round."""
    from ..sinks import table_changes

    return (
        table_changes(spark, _lake_changes_build(spark, sf_dir), 0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


LAKE_CHANGES_FEED_SQL = """
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR)
    AS total_value,
  CAST(min(event_id) AS BIGINT) AS min_event_id,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events
WHERE event_id % 3 = 0
GROUP BY event_type
"""


def _lake_mor_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_merge_mor``: seed an event_id-clustered
    lake table with STALE values on the %10∈{3,7} keys, then repair
    with TWO stacked merge-on-read upserts — merge A fixes the %10=3
    keys; merge B OVERLAPS it (re-updating %10=3 to value+0.5 and
    fixing %10=7) and inserts new %10=9 keys shifted by 1e9.  Both
    ledgers must show files_rewritten == 0 (zero write amplification —
    the deletion-vector contract), and the table is served WITHOUT
    materializing, so the oracle checks the read-time suppression
    join itself: a resurrected old row, a lost tombstone, or
    wrong-order stacking fails the value hash.  Memoized per sf_dir."""
    import os
    import tempfile

    from ..sinks import append_files, merge_into

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakemor",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_mor") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        stale = ev.withColumn(
            "value",
            F.when(
                F.col("event_id") % 10 == 3, F.lit(-1.0)
            ).when(
                F.col("event_id") % 10 == 7, F.lit(-1.0)
            ).otherwise(F.col("value")),
        )
        append_files(
            spark,
            stale.repartitionByRange(6, "event_id").sortWithinPartitions(
                "event_id"
            ),
            tbl,
            cols=["event_id"],
        )
        fix_a = ev.filter(F.col("event_id") % 10 == 3).withColumn(
            "event_type", F.lit("fixed_a")
        )
        led_a = merge_into(
            spark, fix_a, tbl, keys=["event_id"],
            strategy="merge-on-read",
        )
        assert led_a["files_rewritten"] == 0 and led_a["dv_files"] == 1
        fix_b = (
            ev.filter(F.col("event_id") % 10 == 3)
            .withColumn("value", F.col("value") + 0.5)
            .unionByName(ev.filter(F.col("event_id") % 10 == 7))
            .withColumn("event_type", F.lit("fixed_b"))
            .unionByName(
                ev.filter(F.col("event_id") % 10 == 9).select(
                    (F.col("event_id") + 1_000_000_000).alias("event_id"),
                    "user_id",
                    F.lit("mor_new").alias("event_type"),
                    "value",
                )
            )
        )
        led_b = merge_into(
            spark, fix_b, tbl, keys=["event_id"],
            strategy="merge-on-read", txn=("inv_mor", 1),
        )
        assert led_b["files_rewritten"] == 0
        # exactly-once: replaying the batch id is a no-op
        assert merge_into(
            spark, fix_b, tbl, keys=["event_id"],
            strategy="merge-on-read", txn=("inv_mor", 1),
        )["skipped"]
        _BUILD_DONE["lake_mor"] = base
    return tbl


def lake_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read keyed upsert through deletion vectors
    (``sinks.merge_into(strategy='merge-on-read')`` — the reference's
    DO-UPDATE, etl_result.rs:267-281, WITHOUT copy-on-write
    amplification): the build leg stacks two overlapping
    zero-rewrite upserts (key tombstones + new files; every seed file
    keeps its bytes) and the serve leg reads THROUGH the tombstones —
    read_table's suppression join must keep exactly the newest row
    per key (merge B over merge A over the stale seed) plus merge B's
    inserts.  The oracle recomputes the expected final state from the
    raw events; a resurrected stale row, a suppressed survivor, or a
    double-applied replay fails the value hash every round.

    At 100 TB this is the narrow-update-over-a-wide-table case: a
    1-row correction writes ~1 row + a tombstone, never a 128 MB file
    rewrite — Delta/Iceberg's deletion-vector shape on this log, with
    ``materialize_deletes`` as the paired maintenance op."""
    from ..sinks import read_table

    return (
        read_table(spark, _lake_mor_build(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


LAKE_MERGE_MOR_SQL = """
WITH final AS (
  SELECT event_id, user_id,
    CASE WHEN event_id % 10 IN (3, 7) THEN 'fixed_b'
         ELSE event_type END AS event_type,
    CASE WHEN event_id % 10 = 3 THEN value + 0.5
         ELSE value END AS value
  FROM events
  UNION ALL
  SELECT event_id + 1000000000, user_id, 'mor_new', value
  FROM events WHERE event_id % 10 = 9
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(min(event_id) AS BIGINT) AS min_event_id,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM final
GROUP BY event_type
"""


def _lake_cluster_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_cluster_skip``: seed the lake table in
    ARRIVAL order (hash repartition — every file spans the full
    event_id range, so a range predicate prunes nothing), then
    ``cluster_table`` re-lays it out on event_id through one snapshot
    commit; the build asserts the prune actually tightened.  Memoized
    per sf_dir."""
    import os
    import tempfile

    from ..sinks import append_files, cluster_table, current_manifest, prune_files

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakecluster",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_cluster") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        append_files(spark, ev.repartition(8), tbl, cols=["event_id"])
        led = cluster_table(
            spark, tbl, ["event_id"], target_bytes=1 << 18
        )
        assert led["rows_before"] == led["rows_after"]
        if led["files_added"] > 1:  # tiny SFs fit one file — no spans
            m = current_manifest(tbl)
            hi = ev.agg(F.max("event_id")).collect()[0][0]
            kept = prune_files(m, {"event_id": (0, int(hi) // 4)})
            # the re-layout must actually skip
            assert len(kept) < m.num_rows
        _BUILD_DONE["lake_cluster"] = base
    return tbl


def lake_cluster_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ORDER BY through the log (``sinks.cluster_table``):
    the build leg seeds the lake table in arrival order — a range
    predicate prunes NOTHING — and re-clusters it on event_id as one
    snapshot transaction (readers never paused, crash leaves one
    committed version, rows untouched by ledger contract and by the
    build's assertion that pruning tightened).  The serve leg range-
    reads the bottom quartile through the snapshot; the oracle
    recomputes it from the raw events — a dropped/duplicated row in
    the re-layout, or a stats manifest that no longer matches the
    files, fails the value hash every round.

    At 100 TB this is the periodic maintenance a streamed-in
    (arrival-ordered) fact table needs for its manifest spans to tile
    the query key: scan-the-slice instead of scan-the-table, same
    transaction protocol as compaction."""
    from ..sinks import read_table

    tbl = _lake_cluster_build(spark, sf_dir)
    hi = _t(spark, sf_dir, "events").agg(F.max("event_id")).collect()[0][0]
    return (
        read_table(spark, tbl, {"event_id": (0, int(hi) // 4)})
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        )
    )


LAKE_CLUSTER_SKIP_SQL = """
WITH cut AS (SELECT max(event_id) // 4 AS hi FROM events)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR)
    AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events, cut
WHERE event_id BETWEEN 0 AND hi
GROUP BY event_type
"""


def _lake_restore_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_restore``: seed the full events table (v0),
    land two JUNK commits — a bad-feed append (v1) and a
    merge-on-read corruption of real keys (v2) — then RESTORE to v0
    (v3: junk files swept, tombstones dropped) and apply one
    legitimate post-restore merge (v4), proving the table is fully
    writable after the rollback.  Memoized per sf_dir."""
    import os
    import tempfile

    from ..sinks import append_files, merge_into, restore_table

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakerestore",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_restore") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        append_files(
            spark,
            ev.repartitionByRange(4, "event_id").sortWithinPartitions(
                "event_id"
            ),
            tbl,
            cols=["event_id"],
        )  # v0 — the good state
        append_files(  # v1: a bad feed lands junk rows
            spark,
            ev.filter(F.col("event_id") % 5 == 0).select(
                (F.col("event_id") + 3_000_000_000).alias("event_id"),
                "user_id",
                F.lit("junk").alias("event_type"),
                F.lit(-1.0).alias("value"),
            ),
            tbl,
        )
        merge_into(  # v2: and corrupts real keys (merge-on-read)
            spark,
            ev.filter(F.col("event_id") % 7 == 0).withColumn(
                "value", F.lit(-999.0)
            ),
            tbl, keys=["event_id"], strategy="merge-on-read",
        )
        led = restore_table(spark, tbl, 0)  # v3: roll it all back
        assert led["restored_to"] == 0 and led["files_removed"] >= 2
        merge_into(  # v4: the table stays fully writable post-restore
            spark,
            ev.filter(F.col("event_id") % 10 == 2).withColumn(
                "value", F.col("value") + 5.0
            ).withColumn("event_type", F.lit("post")),
            tbl, keys=["event_id"],
        )
        _BUILD_DONE["lake_restore"] = base
    return tbl


def lake_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE VERSION AS OF through the log (``sinks.restore_table``
    — Delta's RESTORE): the build leg corrupts the table with a junk
    append AND a merge-on-read key corruption, rolls both back to the
    v0 snapshot as a NEW commit (junk files swept, tombstones
    dropped, txn map carried forward), then applies a legitimate
    keyed merge on the restored table.  The serve leg rolls the final
    state up; the oracle recomputes it from the raw events — a junk
    row that survived the restore, a lingering tombstone suppressing
    a real row, or a post-restore write landing wrong fails the
    value hash every round.

    At 100 TB this is the bad-deploy day: hours of corrupt commits
    roll back in one O(metadata) transaction while readers stay on
    their snapshots — no table copy, no downtime."""
    from ..sinks import read_table

    return (
        read_table(spark, _lake_restore_build(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        )
    )


LAKE_RESTORE_SQL = """
WITH final AS (
  SELECT event_id, user_id,
    CASE WHEN event_id % 10 = 2 THEN 'post' ELSE event_type END AS event_type,
    CASE WHEN event_id % 10 = 2 THEN value + 5.0 ELSE value END AS value
  FROM events
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR)
    AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM final
GROUP BY event_type
"""


def _lake_timetravel_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_timetravel``: a RETENTION table
    (``append_files(retain_removed=True)`` — replaced data files stay
    on disk until their snapshot leaves the ``keep_versions`` window)
    takes v0 = the full events table, v1 = a copy-on-write keyed merge
    (every ``event_id % 10 = 3`` row re-valued), v2 = a row-range
    delete of the low ids.  Both rewrites would have swept their
    replaced files on a default table; retention keeps all three
    snapshots servable.  Memoized per sf_dir."""
    import os
    import tempfile

    from ..sinks import append_files, delete_where, merge_into

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_laketravel",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_travel") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        cut = ev.agg(F.expr("max(event_id) div 5")).collect()[0][0]
        append_files(  # v0
            spark,
            ev.repartitionByRange(4, "event_id"),
            tbl,
            cols=["event_id"],
            retain_removed=True,
            keep_versions=10,
        )
        src = (
            ev.filter(F.col("event_id") % 10 == 3)
            .withColumn("value", F.col("value") + 500.0)
            .withColumn("event_type", F.lit("tt_upd"))
        )
        merge_into(spark, src, tbl, keys=["event_id"], keep_versions=10)  # v1
        delete_where(  # v2
            spark, tbl, {"event_id": (0, int(cut))}, keep_versions=10
        )
        _BUILD_DONE["lake_travel"] = base
    return tbl


def lake_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel ACROSS rewrite commits on a retention table
    (``read_table(version=…/as_of_timestamp=…)`` +
    ``append_files(retain_removed=True)`` — Delta's VERSION/TIMESTAMP
    AS OF with a VACUUM retention window): the build leg commits
    append → copy-on-write merge → range delete; the serve leg rolls
    up all THREE snapshots — v0 pinned by version, v1 resolved through
    the commit markers' monotone wall-clock stamps
    (``version_at_timestamp``), the head read plain — and unions them
    labeled.  The oracle recomputes each state relationally from the
    raw events, so a swept file (travel serving partial data), a
    mis-resolved timestamp, or retention leaking rewritten rows into
    an old snapshot fails the value hash every round.

    At 100 TB this is the reproducibility contract a training pipeline
    needs: "rebuild the corpus exactly as it was when run X sampled
    it" is one O(metadata) snapshot resolution, not a table copy —
    while rewrites keep landing on the head.

    r14 registry consolidation: the RESTORE gate (``lake_restore`` —
    Delta's RESTORE VERSION AS OF with junk-append + MOR-corruption
    roll-back, formerly its own ``inv_lake_restore`` row) rides this
    row as a fourth labeled leg (``snapshot='restored'``, its own
    build table) — both history surfaces verify through one row, every
    mechanism still runs end-to-end."""
    from functools import reduce

    from ..sinks import commit_timestamp, read_table

    tbl = _lake_timetravel_build(spark, sf_dir)
    # v1's commit instant from ONE marker read — table_history would
    # reconstruct + aggregate every retained manifest just for this
    ts_v1 = commit_timestamp(tbl, 1)

    def leg(label: str, **kw) -> DataFrame:
        return (
            read_table(spark, tbl, **kw)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(_dec("value"))
                .cast("decimal(38,6)")
                .cast("string")
                .alias("total_value"),
                F.countDistinct("user_id").alias("n_users"),
                F.max("event_id").alias("max_event_id"),
            )
            .withColumn("snapshot", F.lit(label))
        )

    return reduce(
        lambda a, b: a.unionByName(b),
        [
            leg("v0", version=0),
            leg("v1", as_of_timestamp=ts_v1),
            leg("head"),
            lake_restore(spark, sf_dir).withColumn(
                "snapshot", F.lit("restored")
            ),
        ],
    )


LAKE_TIMETRAVEL_SQL = """
WITH v1 AS (
  SELECT event_id, user_id,
    CASE WHEN event_id % 10 = 3 THEN 'tt_upd' ELSE event_type END AS event_type,
    CASE WHEN event_id % 10 = 3 THEN value + 500.0 ELSE value END AS value
  FROM events
), head AS (
  SELECT * FROM v1
  WHERE NOT (event_id >= 0
             AND event_id <= (SELECT max(event_id) // 5 FROM events))
), restored AS (
  -- the RESTORE gate's final state (see lake_restore): junk append +
  -- MOR corruption rolled back to v0, then one legitimate keyed merge
  SELECT event_id, user_id,
    CASE WHEN event_id % 10 = 2 THEN 'post' ELSE event_type END AS event_type,
    CASE WHEN event_id % 10 = 2 THEN value + 5.0 ELSE value END AS value
  FROM events
), lab AS (
  SELECT 'v0' AS snapshot, event_id, user_id, event_type, value FROM events
  UNION ALL
  SELECT 'v1', event_id, user_id, event_type, value FROM v1
  UNION ALL
  SELECT 'head', event_id, user_id, event_type, value FROM head
  UNION ALL
  SELECT 'restored', event_id, user_id, event_type, value FROM restored
)
SELECT snapshot, event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR)
    AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM lab
GROUP BY snapshot, event_type
"""


def _lake_constraint_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_constraint_gate``: a table with a CHECK
    constraint takes (1) a clean base append, (2) a VIOLATING append —
    must refuse whole, (3) a clean extra append — must land, (4) a
    VIOLATING merge — must refuse whole.  The serve leg's oracle
    recomputes the final state from ONLY the clean batches, so a
    constraint that filtered instead of refusing, enforced partially,
    or leaked temp files into the table fails the value hash.
    Memoized per sf_dir."""
    import os
    import tempfile

    from ..sinks import (
        ConstraintViolation,
        add_table_constraint,
        append_files,
        merge_into,
    )

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakecons",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_cons") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        append_files(  # v0: clean base
            spark,
            ev.repartitionByRange(4, "event_id"),
            tbl,
            cols=["event_id"],
            keep_versions=10,
        )
        add_table_constraint(
            spark, tbl, "evt_ok", "event_type <> 'bad_evt'"
        )
        bad = ev.filter(F.col("event_id") % 10 == 4).select(
            (F.col("event_id") + 2_000_000_000).alias("event_id"),
            "user_id",
            F.lit("bad_evt").alias("event_type"),
            "value",
        )
        try:
            append_files(spark, bad, tbl, keep_versions=10)
            raise AssertionError("violating append was not refused")
        except ConstraintViolation:
            pass
        append_files(  # clean extra batch lands
            spark,
            ev.filter(F.col("event_id") % 10 == 6).select(
                (F.col("event_id") + 3_000_000_000).alias("event_id"),
                "user_id",
                F.lit("extra_evt").alias("event_type"),
                (F.col("value") + 25.0).alias("value"),
            ),
            tbl,
            keep_versions=10,
        )
        try:
            merge_into(
                spark, bad.limit(50), tbl, keys=["event_id"],
                keep_versions=10,
            )
            raise AssertionError("violating merge was not refused")
        except ConstraintViolation:
            pass
        _BUILD_DONE["lake_cons"] = base
    return tbl


def lake_constraint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time CHECK constraints through the snapshot log
    (``add_table_constraint`` — Delta's ALTER TABLE ADD CONSTRAINT):
    violation counts ride each write job's own CollectMetrics (zero
    extra scans) and a violating transaction — append OR keyed merge —
    is refused WHOLE before its commit point.  The build leg drives a
    clean append, a refused append, a clean append, and a refused
    merge; the serve leg rolls the table up and the oracle recomputes
    it from only the clean batches — rows from a refused transaction
    leaking in (or clean rows lost to a spurious refusal) fail the
    value hash every round.

    At 100 TB this is the data-contract gate at the door: malformed
    producer batches bounce atomically instead of poisoning a petabyte
    table, at no added scan cost per commit."""
    from ..sinks import read_table

    return (
        read_table(spark, _lake_constraint_build(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        )
    )


LAKE_CONSTRAINT_GATE_SQL = """
WITH good AS (
  SELECT event_id + 3000000000 AS event_id, user_id,
         'extra_evt' AS event_type, value + 25.0 AS value
  FROM events WHERE event_id % 10 = 6
), all_rows AS (
  SELECT event_id, user_id, event_type, value FROM events
  UNION ALL
  SELECT event_id, user_id, event_type, value FROM good
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR)
    AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM all_rows
GROUP BY event_type
"""


def _lake_cdc_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_cdc_feed``: a CDF-enabled table takes an
    append (v1), a copy-on-write merge with updates AND inserts (v2),
    and a row-level delete (v3) — each rewrite commit writes its
    change-data files.  Memoized per sf_dir."""
    import os
    import tempfile

    from ..sinks import append_files, delete_where, merge_into

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakecdc",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_cdc") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        cut = ev.agg(F.expr("max(event_id) div 10")).collect()[0][0]
        append_files(  # v0 (excluded by since_version=0)
            spark,
            ev.filter(F.col("event_id") % 3 != 0).repartitionByRange(
                4, "event_id"
            ),
            tbl,
            cols=["event_id"],
            enable_cdf=True,
        )
        append_files(spark, ev.filter(F.col("event_id") % 3 == 0), tbl)  # v1
        src = ev.filter(F.col("event_id") % 10 == 7).withColumn(
            "value", F.col("value") + 1000.0
        ).withColumn("event_type", F.lit("upd")).unionByName(
            ev.filter(F.col("event_id") % 10 == 1).select(
                (F.col("event_id") + 1_000_000_000).alias("event_id"),
                "user_id",
                F.lit("cdc_new").alias("event_type"),
                "value",
            )
        )
        merge_into(spark, src, tbl, keys=["event_id"])  # v2
        delete_where(spark, tbl, {"event_id": (0, int(cut))})  # v3
        _BUILD_DONE["lake_cdc"] = base
    return tbl


def lake_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC across REWRITES (``sinks.table_changes(…,
    change_feed=True)`` over the change-data files the commits wrote
    — Delta's CDF shape): the build leg runs append → keyed merge →
    delete on a CDF-enabled table; the serve leg reads the whole
    change feed since v0 and rolls it up by commit version and change
    type.  The oracle recomputes every change row relationally — the
    merge's preimages must carry PRE-merge values, its postimages the
    merged ones, the delete's rows the POST-merge state — so a
    mislabeled change type, a preimage computed after the fact, or a
    leaked/dropped row fails the value hash every round.

    At 100 TB this is the downstream-consumer contract: a poll reads
    only the span's change files (O(changes), never O(table)) and
    keeps working across compactions, merges, and deletes — the
    append-span fallback (``inv_lake_changes_feed``) raises there by
    design."""
    from ..sinks import table_changes

    return (
        table_changes(
            spark, _lake_cdc_build(spark, sf_dir), 0, change_feed=True
        )
        .groupBy("_commit_version", "_change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("event_id").alias("n_keys"),
        )
        .withColumnRenamed("_commit_version", "commit_version")
        .withColumnRenamed("_change_type", "change_type")
    )


LAKE_CDC_FEED_SQL = """
WITH merged AS (
  SELECT event_id, user_id,
    CASE WHEN event_id % 10 = 7 THEN 'upd' ELSE event_type END AS event_type,
    CASE WHEN event_id % 10 = 7 THEN value + 1000.0 ELSE value END AS value
  FROM events
  UNION ALL
  SELECT event_id + 1000000000, user_id, 'cdc_new', value
  FROM events WHERE event_id % 10 = 1
),
cut AS (SELECT max(event_id) // 10 AS cut FROM events),
changes AS (
  -- v1: the %3=0 append, synthesized/filed as inserts
  SELECT 1 AS commit_version, 'insert' AS change_type, event_id, value
  FROM events WHERE event_id % 3 = 0
  UNION ALL
  -- v2: the merge's preimages (pre-merge values) ...
  SELECT 2, 'update_preimage', event_id, value
  FROM events WHERE event_id % 10 = 7
  UNION ALL
  -- ... postimages (merged values) ...
  SELECT 2, 'update_postimage', event_id, value + 1000.0
  FROM events WHERE event_id % 10 = 7
  UNION ALL
  -- ... and the unmatched-key inserts
  SELECT 2, 'insert', event_id + 1000000000, value
  FROM events WHERE event_id % 10 = 1
  UNION ALL
  -- v3: the delete sees the POST-merge state of the deleted span
  SELECT 3, 'delete', event_id, value
  FROM merged, cut WHERE event_id BETWEEN 0 AND cut
)
SELECT commit_version, change_type,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(count(DISTINCT event_id) AS BIGINT) AS n_keys
FROM changes
GROUP BY commit_version, change_type
"""


def _lake_stream_changes_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_stream_changes``: a source lake table takes
    three append commits and streams them through the commit-log
    source (``sources.lake_changes``) into a downstream lake table
    with txn-stamped exactly-once writes; a fourth commit lands and
    the stream RESTARTS from the same checkpoint — only the new span
    flows.  Memoized per sf_dir; returns the DOWNSTREAM table."""
    import os
    import tempfile

    from ..sinks import append_files
    from ..sources.lake_changes import start_lake_changes_stream

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakechstream",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    src_tbl = os.path.join(base, "src")
    dst_tbl = os.path.join(base, "dst")
    ckpt = os.path.join(base, "ckpt")
    if _BUILD_DONE.get("lake_stream_changes") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        for m in range(3):  # v0..v2
            append_files(
                spark, ev.filter(F.col("event_id") % 4 == m), src_tbl,
                cols=["event_id"],
            )

        def _replicate(batch, batch_id: int) -> None:
            append_files(
                batch.sparkSession, batch, dst_tbl, cols=["event_id"],
                txn=("inv_lake_stream", int(batch_id)),
            )

        q = start_lake_changes_stream(spark, src_tbl, _replicate, ckpt)
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("lake changes stream leg 1 timed out")
        # a late commit + restart from the SAME checkpoint: only the
        # new span flows, and txn stamps keep replays no-ops
        append_files(spark, ev.filter(F.col("event_id") % 4 == 3), src_tbl)
        q2 = start_lake_changes_stream(spark, src_tbl, _replicate, ckpt)
        if not q2.awaitTermination(300):
            q2.stop()
            raise TimeoutError("lake changes stream leg 2 timed out")
        _BUILD_DONE["lake_stream_changes"] = base
    return dst_tbl


def lake_stream_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake table AS a streaming source (``spark.readStream.format
    ("lake_changes")`` — the Python Data Source API over the commit
    log; Delta's streaming-source-from-a-table): commits stream
    exactly-once into a downstream lake table across a restart, with
    version offsets in the stream checkpoint and txn stamps on the
    downstream commits.  The serve leg rolls the downstream table up;
    the oracle recomputes from the raw events — a double-served span,
    a dropped commit, or a replayed batch landing twice fails the
    value hash every round.

    At 100 TB this replaces a broker between pipeline stages: each
    poll plans from the span's markers (O(span) driver work) and
    fans the new files out across executors — the reference's
    consumer loop (src/consumer/kafka/trace/mod.rs:24-51) with the
    table's own log as the topic."""
    from ..sinks import read_table

    return (
        read_table(spark, _lake_stream_changes_build(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        )
    )


LAKE_STREAM_CHANGES_SQL = """
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR)
    AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events
GROUP BY event_type
"""


LAKE_MERGE_UPSERT_SQL = """
WITH final AS (
  SELECT event_id, user_id, event_type, value FROM events
  UNION ALL
  SELECT event_id + 1000000000, user_id, 'merged', value
  FROM events WHERE event_id % 10 = 7
  UNION ALL
  SELECT event_id + 2000000000, user_id, 'ignored', value
  FROM events WHERE event_id % 10 = 4
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(min(event_id) AS BIGINT) AS min_event_id,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM final
GROUP BY event_type
"""


def _lake_delete_mor_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_delete_mor``: seed an event_id-clustered
    lake table, then purge a USER-ID slice — a predicate that cuts
    ACROSS the clustering, matching a handful of rows in every file
    (the right-to-erasure shape) — through
    ``delete_where(strategy='merge-on-read')``.  The build asserts the
    scattered delete rewrote ZERO data files (every seed parquet keeps
    its path and mtime; ``files_added == files_rewritten == 0``) and
    that a replayed txn batch id is a no-op; the table is served
    WITHOUT materializing, so the oracle checks the tombstone
    suppression join itself.  Memoized per sf_dir."""
    import glob as _glob
    import os
    import tempfile

    from ..sinks import append_files, delete_where

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakedelmor",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_delete_mor") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        append_files(
            spark,
            ev.repartitionByRange(6, "event_id").sortWithinPartitions(
                "event_id"
            ),
            tbl,
            cols=["event_id"],
        )
        before = {
            p: os.path.getmtime(p)
            for p in _glob.glob(tbl + "/*.parquet")
        }
        led = delete_where(
            spark, tbl, {"user_id": (1, 50)},
            strategy="merge-on-read", keys=["event_id"],
            txn=("inv_delmor", 1),
        )
        assert led["files_rewritten"] == 0 and led["files_added"] == 0
        assert led["dv_files"] == 1 and led["rows_deleted"] > 0
        after = {
            p: os.path.getmtime(p)
            for p in _glob.glob(tbl + "/*.parquet")
        }
        assert after == before  # zero write amplification
        # exactly-once: the replayed batch id short-circuits
        assert delete_where(
            spark, tbl, {"user_id": (1, 50)},
            strategy="merge-on-read", keys=["event_id"],
            txn=("inv_delmor", 1),
        )["skipped"]
        _BUILD_DONE["lake_delete_mor"] = base
    return tbl


def lake_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read row-level DELETE
    (``sinks.delete_where(strategy='merge-on-read')``): the build leg
    purges every event of a user-id slice from an event_id-clustered
    lake table as ONE key-tombstone commit — zero data files rewritten
    (build-asserted on paths AND mtimes), which at 100 TB is the
    GDPR/right-to-erasure case where the predicate cuts across the
    clustering and copy-on-write would rewrite the whole table.  The
    serve leg aggregates THROUGH the tombstone suppression; the oracle
    recomputes the surviving rows from the raw events — a resurrected
    deleted row, an over-deleted key, or a double-applied replay fails
    the value hash every round.  ``materialize_deletes`` round-trip
    equivalence is pinned by ``tests/test_lake_mor.py``."""
    from ..sinks import read_table

    return (
        read_table(spark, _lake_delete_mor_build(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


LAKE_DELETE_MOR_SQL = """
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(min(event_id) AS BIGINT) AS min_event_id,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events
WHERE user_id NOT BETWEEN 1 AND 50
GROUP BY event_type
"""


def _lake_rename_build(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Build leg for ``lake_rename_evolution``: seed an
    event_id-clustered lake table, then run the column-mapping DDL —
    rename ``value`` → ``amount`` (a plain column) and ``event_id`` →
    ``event_key`` (the file-skipping STATS column, so the
    metadata-sized manifest rewrites once) — asserting both renames
    touched ZERO data files (paths and mtimes stable), then append a
    post-rename batch under the NEW names (add-only evolution on the
    mapped schema).  Returns (table, half) where ``half`` is the
    serve predicate's upper bound.  Memoized per sf_dir."""
    import glob as _glob
    import os
    import tempfile

    from ..sinks import append_files, rename_column

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakerename",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    half = int(ev.agg(F.max("event_id")).collect()[0][0]) // 2
    if _BUILD_DONE.get("lake_rename") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        append_files(
            spark,
            ev.repartitionByRange(6, "event_id").sortWithinPartitions(
                "event_id"
            ),
            tbl,
            cols=["event_id"],
        )
        before = {
            p: os.path.getmtime(p)
            for p in _glob.glob(tbl + "/*.parquet")
        }
        rename_column(spark, tbl, "value", "amount")
        rename_column(spark, tbl, "event_id", "event_key")
        after = {
            p: os.path.getmtime(p)
            for p in _glob.glob(tbl + "/*.parquet")
        }
        assert after == before  # both renames were metadata-only
        late = ev.filter(F.col("event_id") % 10 == 0).select(
            (F.col("event_id") + 1_000_000_000).alias("event_key"),
            F.lit("renamed_new").alias("event_type"),
            (F.col("value") + 1).alias("amount"),
        )
        append_files(spark, late, tbl)
        _BUILD_DONE["lake_rename"] = base
    return tbl, half


def lake_rename_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping — rename as a METADATA-ONLY commit
    (``sinks.rename_column``; Delta/Iceberg's column-ID mapping on
    this log): the build leg renames a plain column AND the
    file-skipping stats column on an event_id-clustered lake table
    (zero data files touched, build-asserted on paths and mtimes),
    then appends a batch under the new names.  The serve leg
    range-reads on the RENAMED stats column — exercising manifest
    pruning under the new name — and aggregates the renamed value
    column; the oracle recomputes from the raw events.  A lost
    logical→physical projection (rows read under the old name
    null-fill), broken pruning stats, or a post-rename append landing
    under stale names fails the value hash every round.  At 100 TB
    this is the "rename a column on a long-lived table without
    rewriting it" contract — one marker write instead of a table
    rewrite."""
    from ..sinks import read_table

    tbl, half = _lake_rename_build(spark, sf_dir)
    return (
        read_table(spark, tbl, predicates={"event_key": (0, half)})
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("amount"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_amount"),
            F.min("event_key").alias("min_event_key"),
            F.max("event_key").alias("max_event_key"),
        )
    )


LAKE_RENAME_EVOLUTION_SQL = """
WITH final AS (
  SELECT event_id AS event_key, event_type, value AS amount FROM events
  UNION ALL
  SELECT event_id + 1000000000, 'renamed_new', value + 1
  FROM events WHERE event_id % 10 = 0
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(amount AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_amount,
  CAST(min(event_key) AS BIGINT) AS min_event_key,
  CAST(max(event_key) AS BIGINT) AS max_event_key
FROM final
WHERE event_key >= 0
  AND event_key <= (SELECT CAST(FLOOR(max(event_id) / 2) AS BIGINT) FROM events)
GROUP BY event_type
"""


def _lake_backlog_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_stream_backlog``: land the events table as
    FIVE separate commits (one file each) on a source lake table, then
    replicate it through the ``lake_changes`` stream source with a
    2-FILE admission budget (``max_files_per_trigger=2``) — the
    5-commit backlog must drain as THREE bounded micro-batches (2+2+1
    files; each availableNow run stops at the offset captured at
    start), build-asserted, with txn-stamped downstream appends
    keeping the replication exactly-once.  Memoized per sf_dir."""
    import os
    import tempfile

    from ..sinks import append_files
    from ..sources.lake_changes import start_lake_changes_stream

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakebacklog",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    src = os.path.join(base, "src")
    dst = os.path.join(base, "dst")
    if _BUILD_DONE.get("lake_backlog") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        for i in range(5):  # one commit (one file) per residue class
            append_files(
                spark,
                ev.filter(F.col("event_id") % 5 == i).coalesce(1),
                src,
                cols=["event_id"] if i == 0 else None,
            )
        batches: list[int] = []

        def _proc(batch, bid):
            n = batch.count()
            if n:
                batches.append(n)
            append_files(
                batch.sparkSession, batch, dst,
                cols=["event_id"], txn=("backlog", int(bid)),
            )

        runs = 0
        for _ in range(8):
            before = len(batches)
            q = start_lake_changes_stream(
                spark, src, _proc, os.path.join(base, "ck"),
                max_files_per_trigger=2,
            )
            q.awaitTermination(300)
            if len(batches) == before:
                break
            runs += 1
        # the 5-file backlog drained as >=3 BOUNDED batches, never one
        assert runs >= 3, batches
        assert len(batches) >= 3, batches
        _BUILD_DONE["lake_backlog"] = base
    return dst


def lake_stream_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission control on the commit-log stream source
    (``lake_changes`` ``max_files_per_trigger`` /
    ``max_bytes_per_trigger`` — Delta's stream-source rate limits):
    the build leg replicates a 5-commit source backlog through a
    2-file-per-trigger budget — build-asserted to drain as >=3
    bounded micro-batches instead of one batch the size of the outage
    — into a downstream lake table via txn-stamped exactly-once
    appends.  The serve leg aggregates the REPLICATED table; the
    oracle recomputes from the raw events — a dropped batch, a
    double-served split offset, or a replayed txn landing twice fails
    the value hash every round.  At 100 TB this is the
    weekend-outage catch-up contract: bounded driver memory, bounded
    retry units, steady progress."""
    from ..sinks import read_table

    return (
        read_table(spark, _lake_backlog_build(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


LAKE_STREAM_BACKLOG_SQL = """
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(min(event_id) AS BIGINT) AS min_event_id,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events
GROUP BY event_type
"""


def _lake_widen_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_widen_evolution``: seed the lake table with
    ``event_id``/``user_id`` stored as INT (asserting the raw ids fit),
    then append a batch whose ids are LONG — shifted beyond int range,
    so the widening is load-bearing, not cosmetic.  The append widens
    the stored type as part of its own commit (Delta's type-widening
    lattice); the build asserts the seed files kept their mtimes (old
    int-typed files upcast at read — zero rewrites) and the committed
    schema now stamps long.  Memoized per sf_dir."""
    import glob as _glob
    import os
    import tempfile

    from pyspark.sql import types as _T

    from ..sinks import append_files, committed_schema

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakewiden",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_widen") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        hi = ev.agg(F.max("event_id"), F.max("user_id")).collect()[0]
        assert max(int(hi[0]), int(hi[1])) < 2**31  # int seed is exact
        seed = ev.select(
            F.col("event_id").cast("int").alias("event_id"),
            F.col("user_id").cast("int").alias("user_id"),
            "event_type",
            "value",
        )
        append_files(
            spark,
            seed.repartitionByRange(6, "event_id").sortWithinPartitions(
                "event_id"
            ),
            tbl,
            cols=["event_id"],
        )
        before = {
            p: os.path.getmtime(p)
            for p in _glob.glob(tbl + "/*.parquet")
        }
        late = ev.filter(F.col("event_id") % 10 == 4).select(
            (F.col("event_id") + 3_000_000_000).alias("event_id"),
            (F.col("user_id") + 3_000_000_000).alias("user_id"),
            F.lit("widened_new").alias("event_type"),
            (F.col("value") + 2).alias("value"),
        )
        append_files(spark, late, tbl)
        after = {
            p: os.path.getmtime(p)
            for p in _glob.glob(tbl + "/*.parquet")
        }
        for p, mt in before.items():
            assert after[p] == mt  # seed files byte-untouched
        schema = committed_schema(tbl)
        assert schema["event_id"].dataType == _T.LongType()
        assert schema["user_id"].dataType == _T.LongType()
        _BUILD_DONE["lake_widen"] = base
    return tbl


def lake_widen_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening schema evolution (``sinks._evolved_schema`` +
    ``_widens_to`` — Delta's type widening on this log): the build leg
    seeds the table with INT ids, then a batch with LONG ids beyond
    int range widens the stored type in its own commit — zero data
    files rewritten (build-asserted on mtimes), old files upcast under
    the explicit wider schema at read time.  The serve leg aggregates
    the mixed-width table through the snapshot read; the oracle
    recomputes from the raw events — a truncated upcast, a dropped
    pre-widening row, or a narrow-typed stats manifest mispruning the
    wide rows fails the value hash every round.  At 100 TB this is
    the "ids outgrew int" day: one commit, no rewrite."""
    from ..sinks import read_table

    return (
        read_table(spark, _lake_widen_build(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


LAKE_WIDEN_EVOLUTION_SQL = """
WITH final AS (
  SELECT event_id, user_id, event_type, value FROM events
  UNION ALL
  SELECT event_id + 3000000000, user_id + 3000000000, 'widened_new',
         value + 2
  FROM events WHERE event_id % 10 = 4
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(min(event_id) AS BIGINT) AS min_event_id,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM final
GROUP BY event_type
"""


def lake_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read row-level UPDATE
    (``sinks.update_where(strategy='merge-on-read')``): the build leg
    doubles the value of one USER-ID slice — a predicate that cuts
    ACROSS the event_id clustering — as ONE tombstone-plus-new-rows
    commit: zero candidate files rewritten (build-asserted on paths
    and mtimes), cardinality preserved, SET evaluated against the
    original row.  The serve leg aggregates THROUGH the suppression;
    the oracle recomputes the update as a CASE over the raw events
    (value * 2.0 is exponent-exact in IEEE 754).  At 100 TB this is
    scattered rectification: a user-keyed backfill over a
    ts-clustered table writes O(matched rows), not the touched
    files."""
    import glob as _glob
    import tempfile

    from ..sinks import append_files, read_table, update_where

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakeupdmor",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_update_mor") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        append_files(
            spark,
            ev.repartitionByRange(6, "event_id").sortWithinPartitions(
                "event_id"
            ),
            tbl,
            cols=["event_id"],
        )
        before = {
            p: os.path.getmtime(p)
            for p in _glob.glob(tbl + "/*.parquet")
        }
        led = update_where(
            spark, tbl, {"user_id": (1, 50)},
            {"value": "value * 2.0"},
            strategy="merge-on-read", keys=["event_id"],
            txn=("inv_updmor", 1),
        )
        assert led["files_rewritten"] == 0 and led["dv_files"] == 1
        assert led["rows_updated"] > 0
        after = {
            p: os.path.getmtime(p)
            for p in _glob.glob(tbl + "/*.parquet")
        }
        for p, mt in before.items():
            assert after[p] == mt  # candidates byte-untouched
        assert update_where(
            spark, tbl, {"user_id": (1, 50)},
            {"value": "value * 2.0"},
            strategy="merge-on-read", keys=["event_id"],
            txn=("inv_updmor", 1),
        )["skipped"]
        _BUILD_DONE["lake_update_mor"] = base
    return (
        read_table(spark, tbl)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


LAKE_UPDATE_MOR_SQL = """
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(
    CASE WHEN user_id BETWEEN 1 AND 50 THEN value * 2.0 ELSE value END
    AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


def _lake_dv_checkpoint_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_dv_checkpoint``: seed an event_id-clustered
    lake table, then run ELEVEN scattered merge-on-read deletes (one
    user-id slice each — v1..v11) so the every-10-commits checkpoint
    fires with 10 active tombstone sidecars.  The build asserts the
    fold: at the checkpoint the active deletion-vector list collapses
    to ONE consolidated per-row-versioned sidecar (plus the one
    post-fold delete), the read plan's input files contain exactly
    those sidecars — ≤2 tombstone scans after 11 MOR commits, NOT 11 —
    and zero data files were rewritten anywhere (paths and mtimes
    stable).  This is the debt bound that keeps a steady
    delete/update trickle from growing one scan branch per commit in
    every read plan on a 100 TB corpus table.  Memoized per sf_dir."""
    import glob as _glob
    import os
    import tempfile

    from .. import sinks
    from ..lake_log import manifest_dir
    from ..sinks import append_files, delete_where

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakedvck",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_dv_checkpoint") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        append_files(
            spark,
            ev.repartitionByRange(6, "event_id").sortWithinPartitions(
                "event_id"
            ),
            tbl,
            cols=["event_id"],
        )
        before = {
            p: os.path.getmtime(p)
            for p in _glob.glob(tbl + "/*.parquet")
        }
        for i in range(11):  # v1..v11; v10 checkpoints + consolidates
            led = delete_where(
                spark, tbl, {"user_id": (i + 1, i + 1)},
                strategy="merge-on-read", keys=["event_id"],
                txn=("inv_dvck", i),
            )
            assert led["files_rewritten"] == 0 and led["files_added"] == 0
            assert led["rows_deleted"] > 0  # each slice must commit
        after = {
            p: os.path.getmtime(p)
            for p in _glob.glob(tbl + "/*.parquet")
        }
        assert after == before  # zero write amplification through it all
        mdir = manifest_dir(tbl)
        dvs = sinks._active_dvs(mdir)
        # 10 pre-checkpoint sidecars folded to 1 consolidated (per-row
        # versions) + the post-fold v11 sidecar
        assert len(dvs) == 2, dvs
        assert dvs[0].get("per_row") is True and "consolidated" in dvs[0]["file"]
        scans = [
            f
            for f in sinks.read_table(spark, tbl).inputFiles()
            if "/_deletes/" in f
        ]
        assert len(scans) == 2, scans  # plan-asserted debt bound
        # the fold stamped the protocol feature
        head = sinks._commit_info(mdir, sinks.manifest_version(tbl))
        assert "dv-per-row" in head.get("features", [])
        _BUILD_DONE["lake_dv_checkpoint"] = base
    return tbl


def lake_dv_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector debt consolidation at checkpoint commits
    (``sinks._consolidate_dvs`` — Delta's checkpoint-consolidated DV
    bitmaps on this log): the build leg issues 11 scattered
    merge-on-read deletes across the every-10-commits checkpoint and
    asserts the active sidecar list folds keep-last into ONE
    consolidated per-row-versioned sidecar (read plans scan ≤2
    tombstone files, not 11 — plan-asserted on inputFiles), zero data
    files rewritten.  The serve leg aggregates THROUGH the folded
    suppression; the oracle recomputes the surviving rows from the raw
    events — a key lost or resurrected by the fold, or a suppression
    boundary shifted by the consolidated stamps, fails the value hash
    every round."""
    from ..sinks import read_table

    return (
        read_table(spark, _lake_dv_checkpoint_build(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


LAKE_DV_CHECKPOINT_SQL = """
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(min(event_id) AS BIGINT) AS min_event_id,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events
WHERE user_id NOT BETWEEN 1 AND 11
GROUP BY event_type
"""


def _lake_maintain_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_maintain``: seed the events table as FIVE
    fragment commits (the streaming micro-batch shape), take three
    scattered merge-on-read deletes, then run ONE ``maintain_table``
    call with a debt threshold the table crosses — asserting the
    composite did all three jobs: the deletion-vector debt
    materialized back into data files (active dv list empty), the
    fragments compacted toward target size (files_rewritten == the
    fragment count, and a SECOND run converges to zero rewrites), and
    vacuum left only referenced files.  This is the nightly-upkeep
    contract a 100 TB deployment runs unattended.  Memoized per
    sf_dir."""
    import os
    import tempfile

    from .. import sinks
    from ..lake_log import manifest_dir
    from ..sinks import append_files, delete_where

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakemaint",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_maintain") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        for i in range(5):  # five fragment commits (v0..v4)
            append_files(
                spark,
                ev.filter(F.col("event_id") % 5 == i).coalesce(1),
                tbl,
                cols=["event_id"] if i == 0 else None,
            )
        for i in range(3):  # v5..v7 — scattered MOR erasures
            led = delete_where(
                spark, tbl, {"user_id": (i + 1, i + 1)},
                strategy="merge-on-read", keys=["event_id"],
            )
            assert led["rows_deleted"] > 0 and led["files_rewritten"] == 0
        led = sinks.maintain_table(
            spark, tbl, dv_files_threshold=2, min_age_s=0
        )
        assert led["dv_files"] == 3 and led["materialize"] is not None
        # the materialize step's rewrite already repacks its candidate
        # fragments toward target size; compact then merges whatever
        # it left (possibly nothing at small SF)
        assert led["materialize"]["files_rewritten"] >= 1
        assert sinks._active_dvs(manifest_dir(tbl)) == []
        led2 = sinks.maintain_table(
            spark, tbl, dv_files_threshold=2, min_age_s=0
        )
        assert led2["compact"]["files_rewritten"] == 0  # converged
        _BUILD_DONE["lake_maintain"] = base
    return tbl


def lake_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call nightly maintenance (``sinks.maintain_table`` —
    threshold-gated REORG + converging OPTIMIZE + vacuum composed in
    dependency order, each step its own snapshot transaction): the
    build leg fragments the table across five streaming-shaped
    commits, lands three scattered merge-on-read erasures, and runs
    the composite over a crossed debt threshold — build-asserting the
    suppression materialized, the fragments compacted, and a second
    run converges to zero rewrites.  The serve leg aggregates the
    maintained table; the oracle recomputes from the raw events — a
    row lost or resurrected by any step of the composite fails the
    value hash every round."""
    from ..sinks import read_table

    return (
        read_table(spark, _lake_maintain_build(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


LAKE_MAINTAIN_SQL = """
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(min(event_id) AS BIGINT) AS min_event_id,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events
WHERE user_id NOT BETWEEN 1 AND 3
GROUP BY event_type
"""


def _lake_mor_rebase_build(spark: SparkSession, sf_dir: str) -> str:
    """Build leg for ``lake_mor_rebase``: a merge-on-read DELETE
    collides with a PURE-APPEND winner (the winner commits between the
    loser's tombstone write and its manifest commit — forced by a
    one-shot hook on ``_commit_manifest``) and must RE-COMMIT its
    already-written sidecar at the next version instead of re-running
    the scan/write (``_rebase_tombstone``).  Build-asserted: ledger
    ``rebased == 1``, zero files rewritten, every pre-collision file —
    the tombstone sidecar included — keeps its path AND mtime, and the
    result is exactly serial order: the winner's appended rows survive
    even where they carry tombstoned keys (the dv entry keeps its
    original read-snapshot version stamp).  Memoized per sf_dir."""
    import glob as _glob
    import os
    import tempfile

    from .. import sinks
    from ..lake_log import manifest_dir
    from ..sinks import append_files, delete_where

    base = os.path.join(
        tempfile.gettempdir(),
        "evmtrace_lakemorreb",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    tbl = os.path.join(base, "events")
    if _BUILD_DONE.get("lake_mor_rebase") != base:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        append_files(
            spark,
            ev.repartitionByRange(6, "event_id").sortWithinPartitions(
                "event_id"
            ),
            tbl,
            cols=["event_id"],
        )  # v0
        # the winner re-inserts (new event_ids) rows of a USER SLICE
        # the loser's delete matches — serial order (delete THEN
        # append) must keep exactly these rows for that slice
        winner = ev.filter(
            (F.col("user_id") >= 1) & (F.col("user_id") <= 50)
            & (F.col("event_id") % 10 == 3)
        ).select(
            (F.col("event_id") + 1_000_000_000).alias("event_id"),
            "user_id",
            F.lit("rebased_new").alias("event_type"),
            "value",
        )
        real_commit = sinks._commit_manifest
        real_recover = sinks._recover_txn
        state = {"armed": True, "files": {}}

        def hook(spark_, mdir_, *a, **kw):
            if state["armed"]:
                state["armed"] = False
                state["files"] = {
                    p: os.path.getmtime(p)
                    for p in _glob.glob(
                        tbl + "/**/*.parquet", recursive=True
                    )
                    if "_stats_manifest" not in p
                }
                # model the COMMON cross-process interleave: the
                # winner's head-of-op intent recovery ran BEFORE the
                # loser wrote its intent (same shape as
                # tests/test_lake_rebase._interleave_commit) — a
                # winner whose recovery instead rolls the live intent
                # back is the other, full-retry leg, tested there
                sinks._recover_txn = lambda *_a, **_k: None
                try:
                    sinks.append_files.__wrapped__(
                        spark_, winner.coalesce(1), tbl
                    )  # v1 — the pure-append winner
                finally:
                    sinks._recover_txn = real_recover
            return real_commit(spark_, mdir_, *a, **kw)

        sinks._commit_manifest = hook
        try:
            led = delete_where(
                spark, tbl, {"user_id": (1, 50)},
                strategy="merge-on-read", keys=["event_id"],
                txn=("inv_morreb", 1),
            )  # loser: collides at v1, re-commits at v2
        finally:
            sinks._commit_manifest = real_commit
        assert led["rebased"] == 1 and led["version"] == 2, led
        assert led["files_rewritten"] == 0 and led["files_added"] == 0
        after = {
            p: os.path.getmtime(p)
            for p in _glob.glob(tbl + "/**/*.parquet", recursive=True)
            if "_stats_manifest" not in p
        }
        for p, mt in state["files"].items():
            # every pre-collision file (winner's data files AND the
            # loser's tombstone sidecar) survived byte-untouched — the
            # re-commit reused them, no scan or write re-ran
            assert p in after and after[p] == mt, p
        # the dv entry kept the ORIGINAL read-snapshot stamp (v1), so
        # the winner's rows (added_version 1) survive the suppression
        dvs = sinks._active_dvs(manifest_dir(tbl))
        assert [int(d["version"]) for d in dvs] == [1], dvs
        # exactly-once across the rebase
        assert delete_where(
            spark, tbl, {"user_id": (1, 50)},
            strategy="merge-on-read", keys=["event_id"],
            txn=("inv_morreb", 1),
        )["skipped"]
        _BUILD_DONE["lake_mor_rebase"] = base
    return tbl


def lake_mor_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-commit rebase under writer collision
    (``sinks._rebase_tombstone`` — Delta's ConcurrentAppend-vs-delete
    split under WriteSerializable): the build leg forces a
    merge-on-read delete to lose the optimistic race to a pure-append
    winner that RE-INSERTS rows of the very slice being deleted; the
    loser re-commits its already-written tombstone (zero re-scans,
    paths and mtimes build-asserted) and the dv keeps its original
    version stamp, so the outcome is exactly serial delete-then-append
    order.  The serve leg aggregates the final table; the oracle
    recomputes it from the raw events — an over-suppressed winner row,
    a surviving pre-delete row, or a double-applied replay fails the
    value hash every round."""
    from ..sinks import read_table

    return (
        read_table(spark, _lake_mor_rebase_build(spark, sf_dir))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


LAKE_MOR_REBASE_SQL = """
WITH final AS (
  SELECT event_id, user_id, event_type, value FROM events
  WHERE user_id NOT BETWEEN 1 AND 50
  UNION ALL
  SELECT event_id + 1000000000, user_id, 'rebased_new', value
  FROM events
  WHERE user_id BETWEEN 1 AND 50 AND event_id % 10 = 3
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)) AS VARCHAR) AS total_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(min(event_id) AS BIGINT) AS min_event_id,
  CAST(max(event_id) AS BIGINT) AS max_event_id
FROM final
GROUP BY event_type
"""


QUERIES = {
    "inv_pricing_summary": pricing_summary,
    "inv_top_revenue_orders": top_revenue_orders,
    "inv_order_priority_semi": order_priority_semi,
    "inv_customers_without_orders": customers_without_orders,
    "inv_latest_event_per_user": latest_event_per_user,
    "inv_first_event_per_user": first_event_per_user,
    "inv_event_type_stats": event_type_stats,
    "inv_user_event_sets": user_event_sets,
    "inv_union_high_balance": union_high_balance,
    "inv_brand_volume": brand_volume,
    "inv_region_revenue": region_revenue,
    "inv_props_selector": props_selector,
    "inv_props_json_stats": props_json_stats,
    "inv_user_sessions": user_sessions,
    "inv_revenue_rollup": revenue_rollup,
    "inv_user_event_pivot": user_event_pivot,
    "inv_asof_attribution": asof_attribution,
    "inv_session_range_join": session_range_join,
    "inv_funnel_stages": funnel_stages,
    "inv_cohort_retention": cohort_retention,
    "inv_buyer_overlap": buyer_overlap,
    "inv_order_cube": order_cube,
    "inv_props_quarantine": props_quarantine,
    "inv_value_outliers": value_outliers,
    "inv_user_value_ma": user_value_ma,
    "inv_trade_pagerank": trade_pagerank,
    "inv_scd2_user_state": scd2_user_state,
    "inv_copurchase_triangles": copurchase_triangles,
    "inv_copurchase_clustering": copurchase_clustering,
    "inv_user_value_7d": user_value_7d,
    "inv_user_value_ewma": user_value_ewma,
    "inv_basket_rules": basket_rules,
    "inv_event_transitions": event_transitions,
    "inv_user_daily_spine": user_daily_spine,
    "inv_bucketed_revenue": bucketed_revenue,
    "inv_incremental_rollup": incremental_rollup,
    "inv_compacted_events_stats": compacted_events_stats,
    "inv_clustered_events_value": clustered_events_value,
    "inv_fileskip_events_value": fileskip_events_value,
    "inv_snapshot_delete_purge": snapshot_delete_purge,
    "inv_read_table_week": read_table_week,
    "inv_update_backfill": update_backfill,
    "inv_lake_stream_ingest": lake_stream_ingest,
    "inv_lake_compact_roundtrip": lake_compact_roundtrip,
    "inv_lake_merge_upsert": lake_merge_upsert,
    "inv_lake_schema_evolution": lake_schema_evolution,
    "inv_lake_changes_feed": lake_changes_feed,
    "inv_lake_merge_mor": lake_merge_mor,
    "inv_lake_cdc_feed": lake_cdc_feed,
    "inv_lake_stream_changes": lake_stream_changes,
    "inv_lake_cluster_skip": lake_cluster_skip,
    "inv_lake_timetravel": lake_timetravel,
    "inv_lake_constraint_gate": lake_constraint_gate,
    "inv_lake_delete_mor": lake_delete_mor,
    "inv_lake_rename_evolution": lake_rename_evolution,
    "inv_lake_stream_backlog": lake_stream_backlog,
    "inv_lake_widen_evolution": lake_widen_evolution,
    "inv_lake_update_mor": lake_update_mor,
    "inv_lake_dv_checkpoint": lake_dv_checkpoint,
    "inv_lake_mor_rebase": lake_mor_rebase,
    "inv_lake_maintain": lake_maintain,
}

ORACLES = {
    "inv_pricing_summary": PRICING_SUMMARY_SQL,
    "inv_top_revenue_orders": TOP_REVENUE_ORDERS_SQL,
    "inv_order_priority_semi": ORDER_PRIORITY_SEMI_SQL,
    "inv_customers_without_orders": CUSTOMERS_WITHOUT_ORDERS_SQL,
    "inv_latest_event_per_user": LATEST_EVENT_PER_USER_SQL,
    "inv_first_event_per_user": FIRST_EVENT_PER_USER_SQL,
    "inv_event_type_stats": EVENT_TYPE_STATS_SQL,
    "inv_user_event_sets": USER_EVENT_SETS_SQL,
    "inv_union_high_balance": UNION_HIGH_BALANCE_SQL,
    "inv_brand_volume": BRAND_VOLUME_SQL,
    "inv_region_revenue": REGION_REVENUE_SQL,
    "inv_props_selector": PROPS_SELECTOR_SQL,
    "inv_props_json_stats": PROPS_JSON_STATS_SQL,
    "inv_user_sessions": USER_SESSIONS_SQL,
    "inv_revenue_rollup": REVENUE_ROLLUP_SQL,
    "inv_user_event_pivot": USER_EVENT_PIVOT_SQL,
    "inv_asof_attribution": ASOF_ATTRIBUTION_SQL,
    "inv_session_range_join": SESSION_RANGE_JOIN_SQL,
    "inv_funnel_stages": FUNNEL_STAGES_SQL,
    "inv_cohort_retention": COHORT_RETENTION_SQL,
    "inv_buyer_overlap": BUYER_OVERLAP_SQL,
    "inv_order_cube": ORDER_CUBE_SQL,
    "inv_props_quarantine": PROPS_QUARANTINE_SQL,
    "inv_value_outliers": VALUE_OUTLIERS_SQL,
    "inv_user_value_ma": USER_VALUE_MA_SQL,
    "inv_trade_pagerank": TRADE_PAGERANK_SQL,
    "inv_scd2_user_state": SCD2_USER_STATE_SQL,
    "inv_copurchase_triangles": COPURCHASE_TRIANGLES_SQL,
    "inv_copurchase_clustering": COPURCHASE_CLUSTERING_SQL,
    "inv_user_value_7d": USER_VALUE_7D_SQL,
    "inv_user_value_ewma": USER_VALUE_EWMA_SQL,
    "inv_basket_rules": BASKET_RULES_SQL,
    "inv_event_transitions": EVENT_TRANSITIONS_SQL,
    "inv_user_daily_spine": USER_DAILY_SPINE_SQL,
    "inv_bucketed_revenue": BUCKETED_REVENUE_SQL,
    "inv_incremental_rollup": INCREMENTAL_ROLLUP_SQL,
    "inv_compacted_events_stats": COMPACTED_EVENTS_STATS_SQL,
    "inv_clustered_events_value": CLUSTERED_EVENTS_VALUE_SQL,
    "inv_fileskip_events_value": FILESKIP_EVENTS_VALUE_SQL,
    "inv_snapshot_delete_purge": SNAPSHOT_DELETE_PURGE_SQL,
    "inv_read_table_week": READ_TABLE_WEEK_SQL,
    "inv_update_backfill": UPDATE_BACKFILL_SQL,
    "inv_lake_stream_ingest": LAKE_STREAM_INGEST_SQL,
    "inv_lake_compact_roundtrip": LAKE_COMPACT_ROUNDTRIP_SQL,
    "inv_lake_merge_upsert": LAKE_MERGE_UPSERT_SQL,
    "inv_lake_schema_evolution": LAKE_SCHEMA_EVOLUTION_SQL,
    "inv_lake_changes_feed": LAKE_CHANGES_FEED_SQL,
    "inv_lake_merge_mor": LAKE_MERGE_MOR_SQL,
    "inv_lake_cdc_feed": LAKE_CDC_FEED_SQL,
    "inv_lake_stream_changes": LAKE_STREAM_CHANGES_SQL,
    "inv_lake_cluster_skip": LAKE_CLUSTER_SKIP_SQL,
    "inv_lake_timetravel": LAKE_TIMETRAVEL_SQL,
    "inv_lake_constraint_gate": LAKE_CONSTRAINT_GATE_SQL,
    "inv_lake_delete_mor": LAKE_DELETE_MOR_SQL,
    "inv_lake_rename_evolution": LAKE_RENAME_EVOLUTION_SQL,
    "inv_lake_stream_backlog": LAKE_STREAM_BACKLOG_SQL,
    "inv_lake_widen_evolution": LAKE_WIDEN_EVOLUTION_SQL,
    "inv_lake_update_mor": LAKE_UPDATE_MOR_SQL,
    "inv_lake_dv_checkpoint": LAKE_DV_CHECKPOINT_SQL,
    "inv_lake_mor_rebase": LAKE_MOR_REBASE_SQL,
    "inv_lake_maintain": LAKE_MAINTAIN_SQL,
}
