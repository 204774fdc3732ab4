"""Reference-parity query shapes on the driver testdata (SURVEY.md §2).

Every operator class of the reference — multi-aggregate groupBys (A1-A7),
broadcast dimension joins (J1), scalar cross joins (J2), 60-row rolling
windows (W1/W2), keep-first dedup (W3), latest-row/top-k (W4/O2),
quality scoring (P7/P8), late flags (P13), unions (U1), tumbling windows
(T4) — expressed Spark-first over `lineitem`/`orders`/`customer`/
`nation`/`region`/`events`.

Scale notes are per-query docstrings; the common themes: aggregations
get map-side partial aggregation for free, dimension joins are
broadcast (no fact shuffle), top-k plans as TakeOrderedAndProject, and
every scan carries column pruning + predicate pushdown.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import clamp01, guarded_div, gate_quantize
from ..session import configure_for_oracle_parity
from ..sources.parquet import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_for_oracle_parity(spark)
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# A1 flagship: TPC-H-Q1-shaped pricing summary (multi-agg groupBy)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 analog (reference consumer/silver_to_gold.py:83-129): one
    hash aggregation, 8 aggregates, low-cardinality keys. At 100 TB the
    map-side partial agg reduces each partition to <10 rows before the
    shuffle — the scan dominates, as it should."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # sum_qty/avg_qty stay raw: l_quantity is integer-valued, so
            # partial sums are exact and order-independent. Every other
            # float aggregate is gate-quantized — double sums jitter at
            # the ulp level with partial-agg merge order (run-to-run!),
            # so an unquantized one is a latent gate failure.
            F.sum("l_quantity").alias("sum_qty"),
            gate_quantize(F.sum("l_extendedprice")).alias("sum_base_price"),
            gate_quantize(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("sum_disc_price"),
            gate_quantize(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                )
            ).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            gate_quantize(F.avg("l_extendedprice")).alias("avg_price"),
            gate_quantize(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       CAST(CAST(sum(l_extendedprice) AS REAL) AS DOUBLE) AS sum_base_price,
       CAST(CAST(sum(l_extendedprice * (1 - l_discount)) AS REAL) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS REAL) AS DOUBLE) AS sum_charge,
       avg(l_quantity) AS avg_qty,
       CAST(CAST(avg(l_extendedprice) AS REAL) AS DOUBLE) AS avg_price,
       CAST(CAST(avg(l_discount) AS REAL) AS DOUBLE) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# A1/A3 on events: daily per-user rollup with countDistinct
# ---------------------------------------------------------------------------

def q_daily_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-user event rollup — the daily_energy_consumption shape
    (A1) with an exact countDistinct (A7)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("user_id"), F.to_date("ts").alias("event_date")
    ).agg(
        gate_quantize(F.sum("value")).alias("value_sum"),
        gate_quantize(F.avg("value")).alias("value_mean"),
        F.max("value").alias("value_max"),
        F.min("value").alias("value_min"),
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("distinct_event_types"),
    )


ORACLE_DAILY_USER_ROLLUP = """
SELECT user_id, CAST(ts AS DATE) AS event_date,
       CAST(CAST(sum(value) AS REAL) AS DOUBLE) AS value_sum,
       CAST(CAST(avg(value) AS REAL) AS DOUBLE) AS value_mean,
       max(value) AS value_max,
       min(value) AS value_min,
       count(*) AS n_events,
       count(DISTINCT event_type) AS distinct_event_types
FROM events
GROUP BY user_id, CAST(ts AS DATE)
"""


# ---------------------------------------------------------------------------
# J1: broadcast dimension enrichment chain
# ---------------------------------------------------------------------------

def q_customer_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (reference consumer/bronze_to_silver.py:185-190): fact LEFT
    JOIN small dims. nation/region are broadcast — the customer side
    never shuffles, which is the 100 TB-correct plan."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "c_mktsegment",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


ORACLE_CUSTOMER_ENRICHMENT = """
SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
       n_name AS nation_name, r_name AS region_name
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""


# ---------------------------------------------------------------------------
# J2: 1-row scalar aggregate cross join
# ---------------------------------------------------------------------------

def q_revenue_vs_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (reference consumer/silver_to_gold.py:244-254): per-date
    revenue with the global daily average attached to every row via a
    broadcast cross join of a 1-row aggregate."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        F.sum("o_totalprice").alias("daily_revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    global_avg = daily.agg(
        gate_quantize(F.avg("daily_revenue")).alias("global_avg_revenue")
    )
    return daily.crossJoin(F.broadcast(global_avg)).select(
        "order_date",
        gate_quantize(F.col("daily_revenue")).alias("daily_revenue"),
        "n_orders",
        "global_avg_revenue",
        gate_quantize(F.col("daily_revenue") / F.col("global_avg_revenue")).alias(
            "revenue_ratio"
        ),
    )


ORACLE_REVENUE_VS_GLOBAL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS order_date,
         sum(o_totalprice) AS daily_revenue,
         count(*) AS n_orders
  FROM orders GROUP BY 1
), g AS (SELECT CAST(CAST(avg(daily_revenue) AS REAL) AS DOUBLE) AS global_avg_revenue FROM daily)
SELECT order_date,
       CAST(CAST(daily_revenue AS REAL) AS DOUBLE) AS daily_revenue,
       n_orders, global_avg_revenue,
       CAST(CAST(daily_revenue / global_avg_revenue AS REAL) AS DOUBLE) AS revenue_ratio
FROM daily CROSS JOIN g
"""


# ---------------------------------------------------------------------------
# W1/W2: 60-row rolling window per key
# ---------------------------------------------------------------------------

def q_rolling_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 (reference consumer/bronze_to_silver.py:246-268): rolling
    mean and rolling event-count over a 60-ROW frame per user — the
    reference's row-frame semantics, tie-broken on event_id for
    determinism. One shuffle on user_id; frames never cross partitions."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-59, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        gate_quantize(F.avg("value").over(w)).alias("value_60row_avg"),
        F.sum((F.col("event_type") == "error").cast("long"))
        .over(w)
        .alias("errors_60row"),
    )


# errors_60row CAST AS BIGINT: DuckDB types sum(INTEGER) as HUGEINT,
# which pandas converts to float64 and the gate's hash then mismatches
# Spark's long despite identical values. avg quantized both sides
# (DuckDB computes window avgs via segment tree — ulp-different order).
ORACLE_ROLLING_EVENT_METRICS = """
SELECT event_id, user_id, ts, value,
       CAST(CAST(avg(value) OVER w AS REAL) AS DOUBLE) AS value_60row_avg,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER w
            AS BIGINT) AS errors_60row
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# W3: deterministic keep-first dedup
# ---------------------------------------------------------------------------

def q_dedup_events_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (reference consumer/bronze_to_silver.py:125): first event per
    (user_id, event_type) in (ts, event_id) order via row_number — the
    deterministic version of pandas keep-first (SURVEY.md §7.3)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts"), F.col("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


ORACLE_DEDUP_EVENTS_KEEPFIRST = """
SELECT user_id, event_type, event_id, ts, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# O2 / W4: top-k latest and latest-per-group
# ---------------------------------------------------------------------------

def q_latest_events_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 (reference dashboard/app.py:567): newest 100 events. Plans as
    TakeOrderedAndProject — per-partition top-k then a k-row driver
    merge, no full sort at any scale."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


ORACLE_LATEST_EVENTS_TOPK = """
SELECT event_id, ts, user_id, event_type, value
FROM events ORDER BY ts DESC, event_id DESC LIMIT 100
"""


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 (reference dashboard/app.py:334): latest row per group."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


ORACLE_LATEST_EVENT_PER_USER = """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# P7/P8: quality scoring as pure column arithmetic
# ---------------------------------------------------------------------------

def q_event_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P8 (reference consumer/bronze_to_silver.py:150-168): additive
    penalty quality score + validity flag, zero UDFs."""
    ev = _t(spark, sf_dir, "events")
    score = (
        F.lit(1.0)
        - F.when(F.col("props").isNull(), 0.1).otherwise(0.0)
        - F.when((F.col("value") < 0) | (F.col("value") > 100), 0.2).otherwise(0.0)
        - F.when(F.col("event_type") == "error", 0.2).otherwise(0.0)
    )
    return ev.select(
        "event_id",
        "user_id",
        gate_quantize(score).alias("quality_score"),
    ).withColumn("is_valid", F.col("quality_score") >= 0.5)


# quality_score quantized both sides: DuckDB evaluates the decimal
# literals in DECIMAL arithmetic (exact) while Spark subtracts doubles,
# leaving ulp-level differences the gate hash would flag.
ORACLE_EVENT_QUALITY_SCORE = """
WITH scored AS (
  SELECT event_id, user_id,
         CAST(CAST(1.0 - (CASE WHEN props IS NULL THEN 0.1 ELSE 0.0 END)
                   - (CASE WHEN value < 0 OR value > 100 THEN 0.2 ELSE 0.0 END)
                   - (CASE WHEN event_type = 'error' THEN 0.2 ELSE 0.0 END) AS REAL) AS DOUBLE)
           AS quality_score
  FROM events
)
SELECT event_id, user_id, quality_score, quality_score >= 0.5 AS is_valid
FROM scored
"""


# ---------------------------------------------------------------------------
# P13: late flag via timestamp arithmetic after a fact-fact join
# ---------------------------------------------------------------------------

def q_late_shipment_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13/F4 (reference consumer/bronze_to_silver.py:213-237): delay
    between two event times + flag-only lateness, then aggregated by
    flag. The lineitem⋈orders join shuffles both sides on orderkey —
    at 100 TB this is the case for bucketing both tables on orderkey
    (co-located join, zero shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("delay_days")
    )
    return (
        j.withColumn("is_late", F.col("delay_days") > 90)
        .groupBy("is_late")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.avg("delay_days").alias("avg_delay_days"),
            F.max("delay_days").alias("max_delay_days"),
        )
    )


ORACLE_LATE_SHIPMENT_FLAG = """
SELECT delay_days > 90 AS is_late,
       count(*) AS n_items,
       avg(delay_days) AS avg_delay_days,
       max(delay_days) AS max_delay_days
FROM (
  SELECT datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS delay_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# U1: union + distinct
# ---------------------------------------------------------------------------

def q_union_dedup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 (reference dashboard/app.py:227-256): two-source union with
    dedup — unionByName tolerates column-order drift between tiers."""
    o = _t(spark, sf_dir, "orders")
    high_value = o.filter(F.col("o_totalprice") > 200000).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    return high_value.unionByName(urgent).distinct()


ORACLE_UNION_DEDUP_ORDERS = """
SELECT DISTINCT o_orderkey, o_custkey, o_totalprice, o_orderstatus
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_totalprice > 200000
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderpriority = '1-URGENT'
)
"""


# ---------------------------------------------------------------------------
# A3: business-summary shape on orders
# ---------------------------------------------------------------------------

def q_orders_business_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (reference consumer/silver_to_gold.py:208-275): per-date
    rollup with two exact countDistincts. Two distinct aggregates over
    the same grouping expand to a single multi-distinct plan in Spark."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        gate_quantize(F.sum("o_totalprice")).alias("total_revenue"),
        F.countDistinct("o_custkey").alias("active_customers"),
        F.countDistinct("o_orderpriority").alias("priority_levels"),
        F.count(F.lit(1)).alias("n_orders"),
        gate_quantize(F.avg("o_totalprice")).alias("avg_order_value"),
    )


ORACLE_ORDERS_BUSINESS_SUMMARY = """
SELECT CAST(o_orderdate AS DATE) AS order_date,
       CAST(CAST(sum(o_totalprice) AS REAL) AS DOUBLE) AS total_revenue,
       count(DISTINCT o_custkey) AS active_customers,
       count(DISTINCT o_orderpriority) AS priority_levels,
       count(*) AS n_orders,
       CAST(CAST(avg(o_totalprice) AS REAL) AS DOUBLE) AS avg_order_value
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# A2: weighted composite-score aggregation
# ---------------------------------------------------------------------------

def q_supplier_health_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (reference consumer/silver_to_gold.py:131-206): per-entity
    weighted composite scores with clamping — the device_health_metrics
    formula shape on lineitem/supplier."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    agg = li.groupBy("l_suppkey").agg(
        F.avg("l_discount").alias("avg_discount"),
        F.avg("l_quantity").alias("avg_quantity"),
        F.avg((F.col("l_returnflag") == "R").cast("double")).alias("return_rate"),
        F.count(F.lit(1)).alias("n_items"),
    )
    health = clamp01(
        (1.0 - F.col("return_rate")) * 0.5
        + (1.0 - F.col("avg_discount") * 10.0) * 0.3
        + F.least(F.lit(1.0), F.col("avg_quantity") / 50.0) * 0.2
    )
    # supplier scales with SF (10k x SF rows) — no forced broadcast;
    # AQE picks BHJ while it fits and degrades to SMJ at scale.
    joined = agg.join(s, agg.l_suppkey == s.s_suppkey, "left")
    # return_rate is a mean of 0/1 (exact); avg_discount and the score
    # chain built on it are order-sensitive double aggs -> quantized
    return joined.select(
        "l_suppkey",
        "s_name",
        gate_quantize(F.col("avg_discount")).alias("avg_discount"),
        "return_rate",
        "n_items",
        gate_quantize(health).alias("health_score"),
        gate_quantize(
            clamp01((1.0 - health) * 0.7 + F.col("return_rate") * 0.3)
        ).alias("failure_risk"),
    )


ORACLE_SUPPLIER_HEALTH_SCORES = """
WITH agg AS (
  SELECT l_suppkey,
         avg(l_discount) AS avg_discount,
         avg(l_quantity) AS avg_quantity,
         avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) AS return_rate,
         count(*) AS n_items
  FROM lineitem GROUP BY 1
), scored AS (
  SELECT *,
    greatest(0.0, least(1.0,
      (1.0 - return_rate) * 0.5
      + (1.0 - avg_discount * 10.0) * 0.3
      + least(1.0, avg_quantity / 50.0) * 0.2)) AS health
  FROM agg
)
SELECT l_suppkey, s_name,
       CAST(CAST(avg_discount AS REAL) AS DOUBLE) AS avg_discount,
       return_rate, n_items,
       CAST(CAST(health AS REAL) AS DOUBLE) AS health_score,
       CAST(CAST(greatest(0.0, least(1.0, (1.0 - health) * 0.7 + return_rate * 0.3))
            AS REAL) AS DOUBLE) AS failure_risk
FROM scored LEFT JOIN supplier ON l_suppkey = s_suppkey
"""


# ---------------------------------------------------------------------------
# T4: tumbling hourly window
# ---------------------------------------------------------------------------

def q_hourly_event_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 (reference consumer/silver_to_gold.py:92-95): calendar-bucket
    tumbling window as a batch groupBy on the truncated timestamp."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        gate_quantize(F.sum("value")).alias("value_sum"),
        F.countDistinct("user_id").alias("active_users"),
    )


ORACLE_HOURLY_EVENT_WINDOW = """
SELECT date_trunc('hour', ts) AS hour_start,
       count(*) AS n_events,
       CAST(CAST(sum(value) AS REAL) AS DOUBLE) AS value_sum,
       count(DISTINCT user_id) AS active_users
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# F9: JSON extraction at the event boundary
# ---------------------------------------------------------------------------

def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 (reference consumer/ingest_bronze.py:52): JSON field
    extraction + rollup, JVM-side (`get_json_object`, no Python)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "k", F.get_json_object(F.col("props"), "$.k").cast("int")
        )
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            gate_quantize(F.avg("value")).alias("value_mean"),
            F.max("k").alias("k_max"),
        )
    )


ORACLE_JSON_PROPS_EXTRACT = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
       count(*) AS n_events,
       CAST(CAST(avg(value) AS REAL) AS DOUBLE) AS value_mean,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Guarded division + unit conversion (P9/F7) over a join
# ---------------------------------------------------------------------------

def q_part_value_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/F7 (reference consumer/bronze_to_silver.py:258-262): guarded
    division after an equi-join — price per size unit, 0 when
    size is 0/null-ish. part scales with SF (200k x SF rows), so the
    join is left to AQE rather than a forced broadcast hint."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    return j.groupBy("p_brand").agg(
        gate_quantize(
            F.avg(
                guarded_div(
                    F.col("l_extendedprice"), F.col("p_size").cast("double")
                )
            )
        ).alias("avg_price_per_size"),
        F.count(F.lit(1)).alias("n_items"),
        gate_quantize(F.sum(F.col("l_extendedprice") / 1000.0)).alias(
            "total_kprice"
        ),
    )


ORACLE_PART_VALUE_DENSITY = """
SELECT p_brand,
       CAST(CAST(avg(CASE WHEN p_size > 0
                          THEN l_extendedprice / CAST(p_size AS DOUBLE)
                          ELSE 0.0 END) AS REAL) AS DOUBLE) AS avg_price_per_size,
       count(*) AS n_items,
       CAST(CAST(sum(l_extendedprice / 1000.0) AS REAL) AS DOUBLE) AS total_kprice
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Gap sessionization (T7: the offline-threshold semantics the reference
# declares but never wires up — operators/sessions.py)
# ---------------------------------------------------------------------------

SESSION_GAP_SECONDS = 43_200  # 12 h — events median inter-event gap is ~7.3 h


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization of the event stream per user: lag + running
    sum + per-session aggregate, all sharing ONE user_id shuffle (the
    groupBy keys are a superset of the window partitioning, so Catalyst
    adds no second exchange)."""
    from ..operators.sessions import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(
        ev, key_col="user_id", ts_col="ts", gap_seconds=SESSION_GAP_SECONDS
    )


ORACLE_SESSIONIZE_EVENTS = f"""
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > CAST({SESSION_GAP_SECONDS} AS BIGINT) * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         -- BIGINT cast: DuckDB sum(INTEGER) is HUGEINT -> float64 in
         -- pandas, which hash-mismatches Spark's long
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_seq
  FROM e
)
SELECT user_id, session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS duration_s
FROM s GROUP BY 1, 2
"""


def q_business_summary_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 scale variant: HyperLogLog++ approx_count_distinct in place
    of exact countDistinct. At 100 TB the exact variant shuffles every
    distinct (date, key) pair; the sketch keeps the shuffle at one
    fixed-size HLL register set per group. Library operator, NOT in
    the driver registry (the sketch value is not SQL-replayable, so
    a registry row could only ever report rows-only); the unit suite
    bounds the error vs exact."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.sum("o_totalprice").alias("revenue"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias(
                "approx_customers"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


APPROX_CD_RSD = 0.02
# FAMILY-WISE sigmas, not per-group: the error bound is checked once
# PER DATE and there are thousands of dates, so a per-group 3-sigma
# bound is EXPECTED to fail somewhere — at sf0.1 the per-date
# cardinalities (~30-90) leave HLL++'s exact sparse regime and 4 of
# 2,405 dates measured out at up to 3.8 sigma, precisely the ~6
# violations 2,405 Gaussian-ish trials predict. 5 sigma puts the
# family-wise failure odds ~1.4e-3 at 2,405 groups while remaining a
# real bound (10% at rsd=0.02; the observed tail is 7.7%).
APPROX_CD_BOUND_SIGMAS = 5.0
APPROX_CD_ABS_SLACK = 2


BIG_ORDER_THRESHOLD = 300_000


def q_purchase_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event joined to the user's latest
    click at-or-before it — single-shuffle union form
    (operators/joins.py), vs the O(pairs) inequality join."""
    from ..operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event")
    )
    return asof_join(
        purchases, clicks, on="user_id", right_cols=["click_event"]
    )


ORACLE_PURCHASE_ASOF_CLICK = """
WITH p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts, max(event_id) AS click_event
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT p.user_id, p.ts, p.event_id, c.click_event, c.ts AS ts_asof
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# ---------------------------------------------------------------------------
# Range (interval-containment) join: events matched to their sessions
# ---------------------------------------------------------------------------

def q_events_in_session_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/joins.py:range_join): every event matched
    to the session interval containing it — bucketized equi-join on
    (user_id, hour bucket), never an inequality-only nested loop.
    Sessions partition each user's timeline, so every event lands in
    exactly one interval and the output row count equals the input."""
    from ..operators.joins import range_join
    from ..operators.sessions import sessionize

    ev = _t(spark, sf_dir, "events")
    sessions = sessionize(
        ev, key_col="user_id", ts_col="ts", gap_seconds=SESSION_GAP_SECONDS
    ).select("user_id", "session_seq", "session_start", "session_end")
    return range_join(
        ev.select("user_id", "event_id", "ts"),
        sessions,
        on="user_id",
        left_ts="ts",
        start_col="session_start",
        end_col="session_end",
        bucket_seconds=3600,
    ).select(
        "user_id", "event_id", "ts",
        "session_seq", "session_start", "session_end",
    )


ORACLE_EVENTS_IN_SESSION_RANGE = f"""
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > CAST({SESSION_GAP_SECONDS} AS BIGINT) * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_seq
  FROM e
), sess AS (
  SELECT user_id, session_seq,
         min(ts) AS session_start, max(ts) AS session_end
  FROM s GROUP BY 1, 2
)
SELECT ev.user_id, ev.event_id, ev.ts,
       sess.session_seq, sess.session_start, sess.session_end
FROM events ev
JOIN sess ON ev.user_id = sess.user_id
         AND ev.ts BETWEEN sess.session_start AND sess.session_end
"""


# ---------------------------------------------------------------------------
# CUBE: multi-level rollup in one pass
# ---------------------------------------------------------------------------

def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, event day): all four grouping levels —
    detail, per-type, per-day, grand total — in ONE aggregation pass
    (Catalyst expands the grouping sets map-side; no re-scan per
    level, unlike a UNION of four groupBys). grouping_id disambiguates
    subtotal NULLs from data NULLs."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("event_day", F.to_date("ts"))
        .cube("event_type", "event_day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            gate_quantize(F.sum("value")).alias("value_sum"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


ORACLE_EVENTS_CUBE = """
SELECT event_type, CAST(ts AS DATE) AS event_day,
       count(*) AS n_events,
       CAST(CAST(sum(value) AS REAL) AS DOUBLE) AS value_sum,
       CAST(GROUPING(event_type, CAST(ts AS DATE)) AS BIGINT) AS gid
FROM events
GROUP BY CUBE (event_type, CAST(ts AS DATE))
"""


# ---------------------------------------------------------------------------
# Exact percentiles (distribution stats per group)
# ---------------------------------------------------------------------------

def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of value per event type — Spark's exact
    ``percentile`` (sort-based within the aggregation; at 100 TB the
    scale path is ``approx_percentile``, the A7'-style trade already
    demonstrated by business_summary_approx)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        gate_quantize(F.expr("percentile(value, 0.5)")).alias("p50"),
        gate_quantize(F.expr("percentile(value, 0.9)")).alias("p90"),
        gate_quantize(F.expr("percentile(value, 0.99)")).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


ORACLE_VALUE_PERCENTILES = """
SELECT event_type,
       CAST(CAST(quantile_cont(value, 0.5) AS REAL) AS DOUBLE) AS p50,
       CAST(CAST(quantile_cont(value, 0.9) AS REAL) AS DOUBLE) AS p90,
       CAST(CAST(quantile_cont(value, 0.99) AS REAL) AS DOUBLE) AS p99,
       count(*) AS n
FROM events GROUP BY 1
"""


def q_rolling_time_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The time-HONEST rolling variant: a true 1-hour range frame on
    event time per user, vs W1's literal 60-row frame. Gated on the µs
    range frame both engines define identically (inclusive bounds)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        gate_quantize(F.avg("value").over(w)).alias("value_1h_avg"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )


ORACLE_ROLLING_TIME_WINDOW_EVENTS = """
SELECT event_id, user_id, ts,
       CAST(CAST(avg(value) OVER w AS REAL) AS DOUBLE) AS value_1h_avg,
       count(*) OVER w AS n_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_salted_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join gated against the PLAIN join oracle —
    salting must be semantics-invariant (the salt spreads hot keys
    over n reducers; the row set is identical by construction), so a
    hash-exact match against the unsalted SQL is the right proof."""
    from ..operators.skew import salted_join

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return salted_join(o, c, on="o_custkey")


ORACLE_SALTED_JOIN_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def q_two_phase_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation gated against the plain groupBy
    oracle — the extra shuffle boundary must not change any value."""
    from ..functions.numeric import quantize_cols
    from ..operators.skew import two_phase_agg

    o = _t(spark, sf_dir, "orders")
    return quantize_cols(
        two_phase_agg(o, keys=["o_orderpriority"], sum_cols=["o_totalprice"]),
        "sum_o_totalprice",
    )


ORACLE_TWO_PHASE_AGG_ORDERS = """
SELECT o_orderpriority,
       count(*) AS n_rows,
       CAST(CAST(sum(o_totalprice) AS REAL) AS DOUBLE) AS sum_o_totalprice
FROM orders GROUP BY 1
"""


def q_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale variant of value_percentiles: ``approx_percentile``
    (Greenwald-Khanna sketch, bounded memory per group) in place of the
    exact sort-based percentile — the same exact-vs-sketch trade as
    business_summary_approx. Library operator, NOT in the driver
    registry (sketch not SQL-replayable); the hash signal lives in
    ``quality_topk_approx_pct`` and the unit suite bounds the error
    vs the exact query."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr(
            "approx_percentile(value, array(0.5, 0.9, 0.99), 10000)"
        ).alias("p_approx"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "event_type",
        F.col("p_approx")[0].alias("p50"),
        F.col("p_approx")[1].alias("p90"),
        F.col("p_approx")[2].alias("p99"),
        "n",
    )


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "daily_user_rollup": q_daily_user_rollup,
    "customer_enrichment": q_customer_enrichment,
    "revenue_vs_global": q_revenue_vs_global,
    "rolling_event_metrics": q_rolling_event_metrics,
    "dedup_events_keepfirst": q_dedup_events_keepfirst,
    "latest_events_topk": q_latest_events_topk,
    "latest_event_per_user": q_latest_event_per_user,
    "event_quality_score": q_event_quality_score,
    "late_shipment_flag": q_late_shipment_flag,
    "union_dedup_orders": q_union_dedup_orders,
    "orders_business_summary": q_orders_business_summary,
    "supplier_health_scores": q_supplier_health_scores,
    "hourly_event_window": q_hourly_event_window,
    "json_props_extract": q_json_props_extract,
    "part_value_density": q_part_value_density,
    "sessionize_events": q_sessionize_events,
    "purchase_asof_click": q_purchase_asof_click,
    "events_in_session_range": q_events_in_session_range,
    "events_cube": q_events_cube,
    "value_percentiles": q_value_percentiles,
    "salted_join_orders": q_salted_join_orders,
    "two_phase_agg_orders": q_two_phase_agg_orders,
    "rolling_time_window_events": q_rolling_time_window_events,
}

ORACLES = {
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "daily_user_rollup": ORACLE_DAILY_USER_ROLLUP,
    "customer_enrichment": ORACLE_CUSTOMER_ENRICHMENT,
    "revenue_vs_global": ORACLE_REVENUE_VS_GLOBAL,
    "rolling_event_metrics": ORACLE_ROLLING_EVENT_METRICS,
    "dedup_events_keepfirst": ORACLE_DEDUP_EVENTS_KEEPFIRST,
    "latest_events_topk": ORACLE_LATEST_EVENTS_TOPK,
    "latest_event_per_user": ORACLE_LATEST_EVENT_PER_USER,
    "event_quality_score": ORACLE_EVENT_QUALITY_SCORE,
    "late_shipment_flag": ORACLE_LATE_SHIPMENT_FLAG,
    "union_dedup_orders": ORACLE_UNION_DEDUP_ORDERS,
    "orders_business_summary": ORACLE_ORDERS_BUSINESS_SUMMARY,
    "supplier_health_scores": ORACLE_SUPPLIER_HEALTH_SCORES,
    "hourly_event_window": ORACLE_HOURLY_EVENT_WINDOW,
    "json_props_extract": ORACLE_JSON_PROPS_EXTRACT,
    "part_value_density": ORACLE_PART_VALUE_DENSITY,
    "sessionize_events": ORACLE_SESSIONIZE_EVENTS,
    "purchase_asof_click": ORACLE_PURCHASE_ASOF_CLICK,
    "events_in_session_range": ORACLE_EVENTS_IN_SESSION_RANGE,
    "events_cube": ORACLE_EVENTS_CUBE,
    "value_percentiles": ORACLE_VALUE_PERCENTILES,
    "salted_join_orders": ORACLE_SALTED_JOIN_ORDERS,
    "two_phase_agg_orders": ORACLE_TWO_PHASE_AGG_ORDERS,
    "rolling_time_window_events": ORACLE_ROLLING_TIME_WINDOW_EVENTS,
}


# ---------------------------------------------------------------------------
# Classic multi-join analytics: TPC-H Q3 / Q5 shapes on the driver
# schema (o_orderpriority stands in for Q3's o_shippriority; the
# driver tables carry no comment/phone columns — scan stays pruned)
# ---------------------------------------------------------------------------


# Revenue sums add thousands of double products per group; quantizing
# the SUM still risks a float32 boundary straddle (observed once at
# sf0.01 on the Q7 shape: 1-ulp double difference, adjacent float32
# cells). Decimal arithmetic removes the order-dependence instead of
# hiding it: the 2-decimal factors cast exactly, the 4-decimal product
# and its sum are exact in scaled decimal on BOTH engines, and the
# final cast back to double is lossless at these magnitudes.
def _exact_revenue():
    from pyspark.sql import functions as F

    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(18,2)")
    return F.sum(price * (one - disc)).cast("double")


_SQL_EXACT_REVENUE = (
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))"
    " AS DOUBLE)"
)

Q3_SEGMENT = "BUILDING"
Q3_DATE = "1998-06-30"
Q3_TOPK = 10


def q_tpch_q3_shipping_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q3 shape: revenue of unshipped orders for one market
    segment — selective dimension filter (customer) broadcast into
    the orders ⋈ lineitem fact join, one (orderkey, date, priority)
    aggregation, top-10 by revenue. Revenue is quantized BEFORE the
    rank so a 1-ulp cross-engine sum difference cannot flip the
    cut; ties break by order key. The only big exchange is the
    fact-fact join on orderkey; customer reaches it as a broadcast."""
    from pyspark.sql import functions as F

    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < Q3_DATE
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > Q3_DATE
    )
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _exact_revenue().alias("revenue")
        )
    )
    return rev.orderBy(
        F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey")
    ).limit(Q3_TOPK)


ORACLE_TPCH_Q3_SHIPPING_PRIORITY = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {_SQL_EXACT_REVENUE} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{Q3_DATE}'
  AND l_shipdate > TIMESTAMP '{Q3_DATE}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT {Q3_TOPK}
"""

Q5_REGION = "ASIA"
Q5_YEAR = 1997


def q_tpch_q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation for one region-year, the
    6-table join with the local-supplier condition (customer and
    supplier in the SAME nation). region→nation→supplier is a
    broadcast chain pruning the fact side; the customer⋈orders⋈
    lineitem spine shuffles on its keys once each. Revenue quantized."""
    from pyspark.sql import functions as F

    region = _t(spark, sf_dir, "region").filter(
        F.col("r_name") == Q5_REGION
    )
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == Q5_YEAR
    )
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            supp,
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
    )
    return (
        j.groupBy("n_name")
        .agg(
            _exact_revenue().alias("revenue")
        )
        .select("n_name", "revenue")
    )


ORACLE_TPCH_Q5_REGION_VOLUME = f"""
SELECT n_name,
       {_SQL_EXACT_REVENUE} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
             AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{Q5_REGION}'
  AND year(o_orderdate) = {Q5_YEAR}
GROUP BY n_name
"""

QUERIES["tpch_q3_shipping_priority"] = q_tpch_q3_shipping_priority
QUERIES["tpch_q5_region_volume"] = q_tpch_q5_region_volume
ORACLES["tpch_q3_shipping_priority"] = ORACLE_TPCH_Q3_SHIPPING_PRIORITY
ORACLES["tpch_q5_region_volume"] = ORACLE_TPCH_Q5_REGION_VOLUME


Q10_START = "1997-01-01"
Q10_END = "1997-07-01"
Q10_TOPK = 20


def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers who returned the most revenue in a
    half-year window — lineitem filtered to returnflag 'R', joined to
    the date-windowed orders, grouped by customer, top-20, then the
    customer and nation dimensions joined AFTER the cut so the
    dimension join touches 20 rows, not |customers| (the
    aggregate-then-enrich ordering that matters at scale). Revenue
    quantized before the rank; ties break by custkey."""
    from pyspark.sql import functions as F

    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q10_START)
        & (F.col("o_orderdate") < Q10_END)
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    top = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            _exact_revenue().alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_custkey"))
        .limit(Q10_TOPK)
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        top.join(cust, top["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "c_name",
            "n_name",
            "c_acctbal",
            "revenue",
        )
    )


ORACLE_TPCH_Q10_RETURNED_ITEMS = f"""
WITH top AS (
  SELECT o_custkey,
         {_SQL_EXACT_REVENUE} AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '{Q10_START}'
    AND o_orderdate < TIMESTAMP '{Q10_END}'
  GROUP BY o_custkey
  ORDER BY revenue DESC, o_custkey
  LIMIT {Q10_TOPK}
)
SELECT o_custkey AS c_custkey, c_name, n_name, c_acctbal, revenue
FROM top
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
"""

QUERIES["tpch_q10_returned_items"] = q_tpch_q10_returned_items
ORACLES["tpch_q10_returned_items"] = ORACLE_TPCH_Q10_RETURNED_ITEMS


def q_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border trade — revenue shipped between
    DIFFERENT nations by year, where the nation dimension joins the
    fact spine TWICE (once through supplier, once through customer;
    the classic query restricts to one nation pair, but the driver's
    small SFs concentrate suppliers in one nation, so the gate keeps
    every cross-border pair — the join shape is identical). Both
    nation sides broadcast; the only large exchanges are the
    lineitem⋈orders and ⋈customer key joins."""
    from pyspark.sql import functions as F

    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("cn_key"),
                F.col("n_name").alias("cust_nation"),
            )
        ),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey", "cust_nation")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            _exact_revenue().alias("revenue")
        )
    )


ORACLE_TPCH_Q7_VOLUME_SHIPPING = f"""
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       {_SQL_EXACT_REVENUE} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
"""

Q18_QTY_THRESHOLD = 250


def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — a HAVING aggregate over
    lineitem selects the heavy order keys, which then SEMI-join back
    into the orders⋈customer spine (the keys table is tiny after the
    threshold, so it broadcasts; the fact table is never scanned
    twice for the filter). Total quantity is an exact double sum of
    integral quantities — no quantization needed."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > Q18_QTY_THRESHOLD)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(
            heavy, orders["o_orderkey"] == heavy["l_orderkey"]
        )
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
    )


ORACLE_TPCH_Q18_LARGE_ORDERS = f"""
WITH heavy AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING sum(l_quantity) > {Q18_QTY_THRESHOLD}
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       total_qty
FROM heavy
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""

QUERIES["tpch_q7_volume_shipping"] = q_tpch_q7_volume_shipping
QUERIES["tpch_q18_large_orders"] = q_tpch_q18_large_orders
ORACLES["tpch_q7_volume_shipping"] = ORACLE_TPCH_Q7_VOLUME_SHIPPING
ORACLES["tpch_q18_large_orders"] = ORACLE_TPCH_Q18_LARGE_ORDERS


SYNTH_N = 5000


def q_synthetic_source_telemetry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The custom Python Data Source (sources/synthetic.py) on the
    hash path: 5000 rows of RNG-free telemetry generated by the
    partitioned `synthetic_telemetry` format — Spark 4's
    `pyspark.sql.datasource` API carrying the reference producer's
    generator as a planned, parallel scan. The DuckDB oracle replays
    the row arithmetic over generate_series verbatim, proving the
    source is deterministic under any partitioning (sf_dir is unused:
    the source IS the data)."""
    from ..sources.synthetic import register

    configure_for_oracle_parity(spark)
    register(spark)
    return (
        spark.read.format("synthetic_telemetry")
        .option("n", str(SYNTH_N))
        .option("partitions", "8")
        .load()
    )


ORACLE_SYNTHETIC_SOURCE_TELEMETRY = f"""
SELECT i AS row_id,
       printf('device_%03d', i % 10) AS device_id,
       ['thermostat','smart_bulb','smart_plug','security_camera',
        'motion_sensor'][(i % 10) % 5 + 1] AS device_type,
       printf('user_%03d', (i % 10) % 2) AS user_id,
       make_timestamp(1704067200000000 + i * 1000000) AS ts,
       CAST((i * 2654435761) % 1000 AS DOUBLE) / 10.0 AS power_usage
FROM (SELECT unnest(generate_series(0, {SYNTH_N - 1})) AS i)
"""

QUERIES["synthetic_source_telemetry"] = q_synthetic_source_telemetry
ORACLES["synthetic_source_telemetry"] = ORACLE_SYNTHETIC_SOURCE_TELEMETRY


def q_pysink_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source WRITER on the hash path
    (sources/pysink.py:JsonlSinkDataSource — the write-side API the
    synthetic source's reader gates leave uncovered): write the
    orders projection through ``format("jsonl_sink")`` (per-partition
    executor writes, rename-on-success, driver commit writing a
    ``_SUCCESS`` manifest), assert the manifest's committed row count,
    then read the part files back with the ordinary JSON reader. The
    oracle is the identity projection — any row lost, duplicated, or
    mangled across the write -> commit -> read-back loop hash-fails.
    Integer and string columns only: the gate pins the write
    protocol, not JSON float formatting."""
    import json as _json
    import os as _os

    configure_for_oracle_parity(spark)
    from ..sources.pysink import register as _register_sink

    _register_sink(spark)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    tmp = tempfile.mkdtemp(prefix="pysink_gate_")
    out = f"{tmp}/out"
    o.write.format("jsonl_sink").option("path", out).mode(
        "append"
    ).save()
    with open(f"{out}/_SUCCESS") as fh:
        manifest = _json.load(fh)
    n_expected = o.count()
    assert manifest["rows"] == n_expected, (manifest, n_expected)
    assert _os.path.exists(f"{out}/_SUCCESS")
    return spark.read.schema(o.schema).json(f"{out}/part-*.jsonl")


ORACLE_PYSINK_ROUNDTRIP_ORDERS = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
FROM orders
"""

QUERIES["pysink_roundtrip_orders"] = q_pysink_roundtrip_orders
ORACLES["pysink_roundtrip_orders"] = ORACLE_PYSINK_ROUNDTRIP_ORDERS


# ---------------------------------------------------------------------------
# TPC-H shapes, round 6: Q4 (EXISTS-driven agg), Q14 (conditional
# ratio), Q19 (disjunctive multi-branch pushdown), Q22 (scalar
# subquery + anti join). Adapted to the driver tables' reduced
# columns (no commitdate/receiptdate/shipmode/phone), preserving each
# query's defining OPERATOR shape.
# ---------------------------------------------------------------------------

Q4_YEAR = 1997
Q4_QUARTER = 3


def q_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts for one quarter where a
    correlated EXISTS holds (here: some line shipped AFTER the order
    date — the reduced schema's analog of commit<receipt). The EXISTS
    compiles to a LEFT SEMI join whose condition spans both sides;
    at scale the semi join shuffles only the orderkey + the two
    compared columns and never duplicates orders (the reason Q4 is
    the canonical semi-join benchmark)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.year("o_orderdate") == Q4_YEAR)
        & (F.quarter("o_orderdate") == Q4_QUARTER)
    )
    li = _t(spark, sf_dir, "lineitem")
    sel = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return (
        sel.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


ORACLE_TPCH_Q4_ORDER_PRIORITY = f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE year(o_orderdate) = {Q4_YEAR}
  AND quarter(o_orderdate) = {Q4_QUARTER}
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


Q14_YEAR = 1998
Q14_MONTH = 3


def q_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-revenue share for one month — a
    conditional aggregate RATIO over a fact⋈part join. Both numerator
    and denominator come out of ONE pass (no second scan, no
    self-join); revenue stays decimal-exact to the division, and only
    the final ratio (one divide) ships as double. The date filter
    prunes the fact scan; part is joined for its type flag only."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.year("l_shipdate") == Q14_YEAR)
        & (F.month("l_shipdate") == Q14_MONTH)
    )
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(18,2)")
    rev = price * (one - disc)
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev))
    total = F.sum(rev)
    out = j.agg(
        promo.alias("_promo"), total.alias("_total")
    ).select(
        (
            F.lit(100.0)
            * F.coalesce(F.col("_promo"), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            / F.col("_total").cast("double")
        ).alias("promo_pct"),
        F.col("_total").cast("double").alias("total_revenue"),
    )
    return out


ORACLE_TPCH_Q14_PROMO_REVENUE = f"""
SELECT 100.0 * CAST(coalesce(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2))
                         - CAST(l_discount AS DECIMAL(18,2))) END),
               0) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2))
                     - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS promo_pct,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE year(l_shipdate) = {Q14_YEAR} AND month(l_shipdate) = {Q14_MONTH}
"""


def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three (brand, size
    range, quantity range) conjunctions — the disjunctive-predicate
    benchmark. The brand/size branches bind to part and the quantity
    bounds to lineitem, so the optimizer must push the COMMON
    envelope of each side's disjuncts into the scans and evaluate
    the cross-table residual on the joined row; a naive engine
    evaluates nothing until after the join. Revenue decimal-exact."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    qty = F.col("l_quantity")
    size = F.col("p_size")
    brand = F.col("p_brand")
    cond = (
        ((brand == "Brand#1") & size.between(1, 15) & qty.between(1, 15))
        | ((brand == "Brand#2") & size.between(1, 25) & qty.between(10, 25))
        | ((brand == "Brand#3") & size.between(1, 35) & qty.between(20, 35))
    )
    return j.filter(cond).agg(
        _exact_revenue().alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_TPCH_Q19_DISJUNCTIVE = f"""
SELECT {_SQL_EXACT_REVENUE} AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 35)
"""


def q_tpch_q22_global_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22 shape: customers whose balance exceeds the global
    positive-balance average AND who have no large order (every
    synthetic customer has SOME order, so the anti-join predicate is
    "no order above the big-order threshold") — scalar subquery +
    anti join + aggregate. The average is compared in EXACT decimal arithmetic
    rearranged as ``bal * n > total`` (no double division anywhere
    near the threshold), so a borderline customer can never flip
    between engines; the 1-row aggregate broadcasts (J2 shape), the
    price filter pushes into the orders scan, and the anti join
    shuffles only the key column."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > BIG_ORDER_THRESHOLD
    )
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    stats = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal).alias("_total"),
        F.count(F.lit(1)).alias("_n"),
    )
    rich = (
        c.crossJoin(F.broadcast(stats))
        .filter(
            bal * F.col("_n").cast("decimal(18,0)")
            > F.col("_total").cast("decimal(38,2)")
        )
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
    )
    return rich.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(bal).cast("double").alias("total_acctbal"),
    )


ORACLE_TPCH_Q22_GLOBAL_BALANCE = """
WITH stats AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS total_bal,
         count(*) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         AS total_acctbal
FROM customer c CROSS JOIN stats
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > total_bal
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > {thr})
GROUP BY c_mktsegment
""".format(thr=BIG_ORDER_THRESHOLD)


QUERIES["tpch_q4_order_priority"] = q_tpch_q4_order_priority
QUERIES["tpch_q14_promo_revenue"] = q_tpch_q14_promo_revenue
QUERIES["tpch_q19_disjunctive"] = q_tpch_q19_disjunctive
QUERIES["tpch_q22_global_balance"] = q_tpch_q22_global_balance
ORACLES["tpch_q4_order_priority"] = ORACLE_TPCH_Q4_ORDER_PRIORITY
ORACLES["tpch_q14_promo_revenue"] = ORACLE_TPCH_Q14_PROMO_REVENUE
ORACLES["tpch_q19_disjunctive"] = ORACLE_TPCH_Q19_DISJUNCTIVE
ORACLES["tpch_q22_global_balance"] = ORACLE_TPCH_Q22_GLOBAL_BALANCE
