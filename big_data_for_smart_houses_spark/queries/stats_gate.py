"""Statistical / time-series / layout gate queries (round 4).

Four new operator families, each oracle-gated bit-exact:

* ``regression_drift_events`` — per-key closed-form OLS via the JVM
  ``regr_*`` aggregate family (operators/stats.py:regression_per_key).
* ``gapfill_locf_events`` — regular-grid resampling with
  last-observation-carried-forward (operators/stats.py:gap_fill_locf).
* ``unpivot_daily_metrics`` — wide->long ``DataFrame.unpivot`` (melt).
* ``zorder_key_events`` — Morton-key computation for multi-dimensional
  layout clustering (extensions/layout.py). The gate checks the pure
  key arithmetic; the repartitionByRange re-layout around it is
  covered by a unit test (file-level min/max tightness), since range
  boundaries come from sampling and are not SQL-reproducible.

Float contract: every order-dependent float aggregate goes through the
float32 gate quantization on both engines (functions/numeric.py:
gate_quantize); counts, keys, timestamps, and LOCF-copied values are
engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extensions.layout import zorder_key_2d
from ..functions.numeric import gate_quantize, quantize_cols
from ..operators.stats import (
    gap_fill_linear,
    gap_fill_locf,
    regression_per_key,
)
from ..session import configure_for_oracle_parity
from ..sources.parquet import load_table

# x origin for the drift regression: 2024-01-01T00:00:00Z in epoch µs.
# Shifting x (slope/r2/corr are shift-invariant) keeps the moment sums
# at O(hours³) instead of O(epoch³), where float64 cancellation would
# swamp the float32 gate.
X_ORIGIN_US = 1_704_067_200_000_000
US_PER_HOUR = 3_600_000_000.0
GAPFILL_STEP_S = 3600


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_for_oracle_parity(spark)
    return load_table(spark, sf_dir, "events")


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_for_oracle_parity(spark)
    return load_table(spark, sf_dir, "orders")


# ---------------------------------------------------------------------------
# Per-key OLS drift
# ---------------------------------------------------------------------------

def q_regression_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user drift of ``value`` in units/hour since 2024-01-01:
    slope, intercept, R², Pearson r, point count — one hash aggregate,
    all moments map-side combined."""
    ev = _events(spark, sf_dir).withColumn(
        "_x_hours",
        (F.unix_micros(F.col("ts")) - F.lit(X_ORIGIN_US)) / F.lit(US_PER_HOUR),
    )
    out = regression_per_key(ev, key="user_id", x="_x_hours", y="value")
    return quantize_cols(out, "slope", "intercept", "r2", "pearson_r")


ORACLE_REGRESSION_DRIFT_EVENTS = f"""
SELECT user_id,
  CAST(CAST(regr_slope(value, (epoch_us(ts) - {X_ORIGIN_US})/{US_PER_HOUR}) AS REAL) AS DOUBLE) AS slope,
  CAST(CAST(regr_intercept(value, (epoch_us(ts) - {X_ORIGIN_US})/{US_PER_HOUR}) AS REAL) AS DOUBLE) AS intercept,
  CAST(CAST(regr_r2(value, (epoch_us(ts) - {X_ORIGIN_US})/{US_PER_HOUR}) AS REAL) AS DOUBLE) AS r2,
  CAST(CAST(corr(value, (epoch_us(ts) - {X_ORIGIN_US})/{US_PER_HOUR}) AS REAL) AS DOUBLE) AS pearson_r,
  CAST(regr_count(value, (epoch_us(ts) - {X_ORIGIN_US})/{US_PER_HOUR}) AS BIGINT) AS n_points
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Gap-filled LOCF resampling
# ---------------------------------------------------------------------------

def q_gapfill_locf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user grid over each user's own observed span, LOCF
    interpolation, ``is_gap`` marking synthesized rows. Values are
    copied, never recomputed — engine-exact, no quantization."""
    return gap_fill_locf(
        _events(spark, sf_dir),
        key="user_id",
        ts="ts",
        value="value",
        step_seconds=GAPFILL_STEP_S,
    )


ORACLE_GAPFILL_LOCF_EVENTS = f"""
WITH obs AS (
  SELECT user_id,
         (epoch_us(ts) // {GAPFILL_STEP_S * 1_000_000}) * {GAPFILL_STEP_S}
           AS bucket_ts,
         ts, value
  FROM events
),
ranked AS (
  SELECT user_id, bucket_ts, value,
         row_number() OVER (
           PARTITION BY user_id, bucket_ts
           ORDER BY ts DESC, value DESC) AS rn
  FROM obs
),
per_bucket AS (
  SELECT user_id, bucket_ts, value AS observed FROM ranked WHERE rn = 1
),
span AS (
  SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi
  FROM obs GROUP BY 1
),
grid AS (
  SELECT user_id,
         unnest(range(lo, hi + {GAPFILL_STEP_S}, {GAPFILL_STEP_S}))
           AS bucket_ts
  FROM span
)
SELECT g.user_id,
       make_timestamp(g.bucket_ts * 1000000) AS bucket_time,
       last_value(p.observed IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       p.observed IS NULL AS is_gap
FROM grid g
LEFT JOIN per_bucket p USING (user_id, bucket_ts)
"""


# ---------------------------------------------------------------------------
# Unpivot / melt
# ---------------------------------------------------------------------------

def q_unpivot_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-(user, day) metrics melted to long form with
    ``DataFrame.unpivot`` — the tidy-data inverse of a pivot. One
    aggregate shuffle; the melt itself is a
    row-local 1:3 expand (Catalyst ``Expand``), no extra exchange."""
    daily = (
        _events(spark, sf_dir)
        .groupBy("user_id", F.col("ts").cast("date").alias("date"))
        .agg(
            F.avg("value").alias("avg_value"),
            F.sum("value").alias("sum_value"),
            F.count(F.lit(1)).cast("double").alias("n_events"),
        )
    )
    out = daily.unpivot(
        ["user_id", "date"],
        ["avg_value", "sum_value", "n_events"],
        "metric",
        "metric_value",
    )
    return quantize_cols(out, "metric_value")


ORACLE_UNPIVOT_DAILY_METRICS = """
WITH d AS (
  SELECT user_id, CAST(ts AS DATE) AS date,
         avg(value) AS avg_value, sum(value) AS sum_value,
         CAST(count(*) AS DOUBLE) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT user_id, date, metric,
       CAST(CAST(metric_value AS REAL) AS DOUBLE) AS metric_value
FROM d UNPIVOT (metric_value FOR metric IN (avg_value, sum_value, n_events))
"""


# ---------------------------------------------------------------------------
# Z-order layout key
# ---------------------------------------------------------------------------

ZQ_BITS = 16
ZQ_MAX = (1 << ZQ_BITS) - 1


def q_zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key over (user_id, value): global min/max discovery via a
    1-row broadcast, then pure-integer interleave — all codegen, no
    Python, no extra shuffle beyond the scalar pre-pass."""
    keyed = zorder_key_2d(
        _events(spark, sf_dir), "user_id", "value", bits=ZQ_BITS
    )
    return keyed.select("event_id", "zorder_key")


_Z_TERMS = " + ".join(
    f"(((qa >> {i}) & 1) << {2 * i}) + (((qb >> {i}) & 1) << {2 * i + 1})"
    for i in range(ZQ_BITS)
)

ORACLE_ZORDER_KEY_EVENTS = f"""
WITH b AS (
  SELECT min(user_id) AS alo, max(user_id) AS ahi,
         min(value) AS blo, max(value) AS bhi
  FROM events
),
q AS (
  SELECT event_id,
    LEAST(CAST(CASE WHEN ahi > alo
      THEN floor(((user_id - alo) / CAST(ahi - alo AS DOUBLE)) * {ZQ_MAX})
      ELSE 0 END AS BIGINT), {ZQ_MAX}) AS qa,
    LEAST(CAST(CASE WHEN bhi > blo
      THEN floor(((value - blo) / (bhi - blo)) * {ZQ_MAX})
      ELSE 0 END AS BIGINT), {ZQ_MAX}) AS qb
  FROM events CROSS JOIN b
)
SELECT event_id, {_Z_TERMS} AS zorder_key FROM q
"""


QUERIES = {
    "regression_drift_events": q_regression_drift_events,
    "gapfill_locf_events": q_gapfill_locf_events,
    "unpivot_daily_metrics": q_unpivot_daily_metrics,
    "zorder_key_events": q_zorder_key_events,
}

ORACLES = {
    "regression_drift_events": ORACLE_REGRESSION_DRIFT_EVENTS,
    "gapfill_locf_events": ORACLE_GAPFILL_LOCF_EVENTS,
    "unpivot_daily_metrics": ORACLE_UNPIVOT_DAILY_METRICS,
    "zorder_key_events": ORACLE_ZORDER_KEY_EVENTS,
}


# ---------------------------------------------------------------------------
# Built-in session_window aggregation
# ---------------------------------------------------------------------------

SESSION_GAP_S = 300


def q_session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session aggregation via Spark's BUILT-IN ``session_window``
    (the brief's escalation order: prefer the built-in when it
    expresses the semantics) — same 300 s gap rule as the custom
    ``operators/sessions.py`` path (split strictly when the gap
    EXCEEDS 300 s; an exactly-300 s step merges, probed empirically),
    with the built-in's [first, last+gap) window bounds. One key
    shuffle; also the streaming-native form (the same expression works
    under readStream with a watermark)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_S} seconds"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


ORACLE_SESSION_WINDOW_EVENTS = f"""
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts) > {SESSION_GAP_S * 1_000_000}
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM ordered
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_S} SECOND AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM islands
GROUP BY user_id, session_seq
"""

QUERIES["session_window_events"] = q_session_window_events
ORACLES["session_window_events"] = ORACLE_SESSION_WINDOW_EVENTS


# ---------------------------------------------------------------------------
# Time-weighted average
# ---------------------------------------------------------------------------

def q_time_weighted_avg_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user time-weighted mean of ``value``
    (operators/stats.py:time_weighted_avg): the LOCF integral over
    each user's observed span — rarely-reporting-but-steady devices
    weigh by holding time, not sample count. Weighted float sums are
    order-dependent -> gate-quantized on both engines."""
    from ..operators.stats import time_weighted_avg

    out = time_weighted_avg(
        _events(spark, sf_dir), key="user_id", ts="ts", value="value"
    )
    return quantize_cols(out, "time_weighted_avg")


ORACLE_TIME_WEIGHTED_AVG_EVENTS = """
WITH w AS (
  SELECT user_id, value,
         CAST(lead(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, value)
              - epoch_us(ts) AS DOUBLE) AS w_us
  FROM events
)
SELECT user_id,
       CAST(CAST(
         CASE WHEN sum(w_us) > 0
              THEN sum(value * w_us) / sum(w_us)
              ELSE max(value) END
       AS REAL) AS DOUBLE) AS time_weighted_avg,
       CAST(count(*) AS BIGINT) AS n_samples
FROM w
GROUP BY user_id
"""

QUERIES["time_weighted_avg_events"] = q_time_weighted_avg_events
ORACLES["time_weighted_avg_events"] = ORACLE_TIME_WEIGHTED_AVG_EVENTS


# ---------------------------------------------------------------------------
# Rate of change (discrete derivative)
# ---------------------------------------------------------------------------

def q_rate_of_change_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user discrete derivative of ``value`` in units/hour
    (operators/stats.py:rate_of_change) — EWMA smooths, TWA
    integrates, this differentiates. The division is one float op on
    exact integer micros -> quantized for the gate."""
    from ..operators.stats import rate_of_change

    out = rate_of_change(
        _events(spark, sf_dir).select("event_id", "user_id", "ts", "value"),
        key="user_id",
        ts="ts",
        value="value",
    )
    return quantize_cols(out, "rate_per_period")


ORACLE_RATE_OF_CHANGE_EVENTS = """
WITH w AS (
  SELECT event_id, user_id, ts, value,
         value - lag(value) OVER (
           PARTITION BY user_id ORDER BY ts, value) AS dv,
         CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, value) AS DOUBLE) AS dt_us
  FROM events
)
SELECT event_id, user_id, ts, value,
       CAST(CAST(
         CASE WHEN dt_us > 0 THEN dv / (dt_us / 3600000000.0) END
       AS REAL) AS DOUBLE) AS rate_per_period
FROM w
"""

QUERIES["rate_of_change_events"] = q_rate_of_change_events
ORACLES["rate_of_change_events"] = ORACLE_RATE_OF_CHANGE_EVENTS


# ---------------------------------------------------------------------------
# Ratio to report
# ---------------------------------------------------------------------------

def q_ratio_to_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event's share of its event type's total value
    (operators/stats.py:ratio_to_report) — the unordered whole-group
    window frame, one exchange, no sort. The group totals are
    order-dependent float sums -> the share is quantized."""
    from ..operators.stats import ratio_to_report

    out = ratio_to_report(
        _events(spark, sf_dir).select("event_id", "event_type", "value"),
        group="event_type",
        value="value",
    )
    return quantize_cols(out, "share_of_group")


ORACLE_RATIO_TO_REPORT_EVENTS = """
SELECT event_id, event_type, value,
       CAST(CAST(
         CASE WHEN sum(value) OVER (PARTITION BY event_type) != 0
              THEN value / sum(value) OVER (PARTITION BY event_type)
         END
       AS REAL) AS DOUBLE) AS share_of_group
FROM events
"""

QUERIES["ratio_to_report_events"] = q_ratio_to_report_events
ORACLES["ratio_to_report_events"] = ORACLE_RATIO_TO_REPORT_EVENTS


# ---------------------------------------------------------------------------
# Funnel conversion (click -> purchase)
# ---------------------------------------------------------------------------

def q_funnel_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel per user: first click, then the first purchase
    AT OR AFTER it — conversion flag + latency in hours (exact µs
    arithmetic divided once, the F4 parity contract, no quantization).
    Plan shape: two per-user aggregates joined on user_id. The click
    side is |users| rows — small at test SF but ~10⁸-10⁹ rows at
    100 TB, so the join strategy is deliberately LEFT TO AQE: no
    forced broadcast hint (a forced hint OOMs executors once the
    user table outgrows the broadcast threshold; AQE broadcasts it
    whenever its runtime size allows and falls back to a shuffled
    hash join otherwise — asserted hint-free in test_plans.py)."""
    ev = _events(spark, sf_dir)
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .filter(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    out = first_click.join(first_purchase, "user_id", "left")
    return out.select(
        "user_id",
        "first_click",
        "first_purchase",
        F.col("first_purchase").isNotNull().alias("converted"),
        (
            (
                F.unix_micros("first_purchase")
                - F.unix_micros("first_click")
            )
            / F.lit(3_600_000_000.0)
        ).alias("latency_hours"),
    )


ORACLE_FUNNEL_CLICK_PURCHASE = """
WITH first_click AS (
  SELECT user_id, min(ts) AS first_click
  FROM events WHERE event_type = 'click' GROUP BY 1
),
first_purchase AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM events e JOIN first_click c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
  GROUP BY 1
)
SELECT c.user_id, c.first_click, p.first_purchase,
       p.first_purchase IS NOT NULL AS converted,
       CAST(epoch_us(p.first_purchase) - epoch_us(c.first_click)
            AS DOUBLE) / 3600000000.0 AS latency_hours
FROM first_click c LEFT JOIN first_purchase p USING (user_id)
"""

QUERIES["funnel_click_purchase"] = q_funnel_click_purchase
ORACLES["funnel_click_purchase"] = ORACLE_FUNNEL_CLICK_PURCHASE


# ---------------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------------

def q_cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix: users grouped by first-seen
    date, counted as active per day-offset from their cohort date.
    The |users|-row cohort table joins onto the event scan with NO
    forced broadcast hint — user-keyed tables don't fit executor
    memory at 100 TB, so AQE picks broadcast vs shuffled-hash from
    the cohort table's runtime size (hint-free asserted in
    test_plans.py). The (user, date) activity de-dup happens in the
    same aggregate as the final count via a two-level groupBy —
    distinct-user counts per cell are exact ints, no floats
    anywhere."""
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("date").alias("date")
    )
    cohorts = ev.groupBy("user_id").agg(F.min("date").alias("cohort_date"))
    active = (
        ev.join(cohorts, "user_id")
        .select(
            "user_id",
            "cohort_date",
            F.datediff(F.col("date"), F.col("cohort_date")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return active.groupBy("cohort_date", "day_offset").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


ORACLE_COHORT_RETENTION_EVENTS = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS date FROM events
),
cohorts AS (
  SELECT user_id, min(date) AS cohort_date FROM ev GROUP BY 1
),
active AS (
  SELECT DISTINCT e.user_id, c.cohort_date,
         date_diff('day', c.cohort_date, e.date) AS day_offset
  FROM ev e JOIN cohorts c USING (user_id)
)
SELECT cohort_date, CAST(day_offset AS INT) AS day_offset,
       CAST(count(*) AS BIGINT) AS n_active_users
FROM active
GROUP BY 1, 2
"""

QUERIES["cohort_retention_events"] = q_cohort_retention_events
ORACLES["cohort_retention_events"] = ORACLE_COHORT_RETENTION_EVENTS


# ---------------------------------------------------------------------------
# 3-D Z-order layout key
# ---------------------------------------------------------------------------

Z3_BITS = 16


def q_zorder3_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-dimensional Morton key over (user_id, value, epoch-hour):
    one sort order serving min/max pruning on THREE filter columns
    (extensions/layout.py:zorder_key_nd) — 48 interleaved bits, all
    codegen, one scalar-bounds broadcast."""
    from ..extensions.layout import zorder_key_nd

    ev = _events(spark, sf_dir).withColumn(
        "epoch_hour", F.floor(F.unix_micros("ts") / F.lit(3_600_000_000))
    )
    keyed = zorder_key_nd(
        ev, ["user_id", "value", "epoch_hour"], bits=Z3_BITS
    )
    return keyed.select("event_id", "zorder_key")


_Z3_MAX = (1 << Z3_BITS) - 1
_Z3_TERMS = " + ".join(
    f"(((q{d} >> {i}) & 1) << {i * 3 + d})"
    for d in range(3)
    for i in range(Z3_BITS)
)

ORACLE_ZORDER3_KEY_EVENTS = f"""
WITH e AS (
  SELECT event_id, user_id, value,
         CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS epoch_hour
  FROM events
),
b AS (
  SELECT min(user_id) AS alo, max(user_id) AS ahi,
         min(value) AS blo, max(value) AS bhi,
         min(epoch_hour) AS clo, max(epoch_hour) AS chi
  FROM e
),
q AS (
  SELECT event_id,
    LEAST(CAST(CASE WHEN ahi > alo
      THEN floor(((user_id - alo) / CAST(ahi - alo AS DOUBLE)) * {_Z3_MAX})
      ELSE 0 END AS BIGINT), {_Z3_MAX}) AS q0,
    LEAST(CAST(CASE WHEN bhi > blo
      THEN floor(((value - blo) / (bhi - blo)) * {_Z3_MAX})
      ELSE 0 END AS BIGINT), {_Z3_MAX}) AS q1,
    LEAST(CAST(CASE WHEN chi > clo
      THEN floor(((epoch_hour - clo) / CAST(chi - clo AS DOUBLE)) * {_Z3_MAX})
      ELSE 0 END AS BIGINT), {_Z3_MAX}) AS q2
  FROM e CROSS JOIN b
)
SELECT event_id, {_Z3_TERMS} AS zorder_key FROM q
"""

QUERIES["zorder3_key_events"] = q_zorder3_key_events
ORACLES["zorder3_key_events"] = ORACLE_ZORDER3_KEY_EVENTS


# ---------------------------------------------------------------------------
# Hopping (sliding) window aggregation
# ---------------------------------------------------------------------------

def q_hopping_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 2 h windows hopping every 1 h via the built-in
    ``F.window(ts, width, slide)`` — each event lands in width/slide
    windows (the Expand fan-out is row-local), then one window-keyed
    aggregate. The batch twin of the streaming hopping-window rollup;
    sums are order-dependent -> quantized."""
    ev = _events(spark, sf_dir)
    out = (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )
    return quantize_cols(out, "sum_value")


ORACLE_HOPPING_WINDOW_EVENTS = """
WITH h AS (
  SELECT ((epoch_us(ts) // 3600000000) - r.i) * 3600000000 AS start_us,
         value
  FROM events CROSS JOIN range(2) r(i)
)
SELECT make_timestamp(start_us) AS window_start,
       make_timestamp(start_us + 7200000000) AS window_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(CAST(sum(value) AS REAL) AS DOUBLE) AS sum_value
FROM h
GROUP BY 1, 2
"""

QUERIES["hopping_window_events"] = q_hopping_window_events
ORACLES["hopping_window_events"] = ORACLE_HOPPING_WINDOW_EVENTS


# ---------------------------------------------------------------------------
# GROUPING SETS with grouping_id
# ---------------------------------------------------------------------------

def q_grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((type), (date), ()) with ``grouping_id`` — the
    general form rollup and cube are sugar for (§2.4 completion);
    Catalyst plans ONE Expand + one aggregate, not three scans. Both
    engines use the same MSB-first grouping-bit convention (type-only
    rows -> gid 1, date-only -> 2, grand total -> 3)."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.col("ts").cast("date").alias("date"), "value"
    )
    out = (
        ev.groupingSets(
            [["event_type"], ["date"], []], "event_type", "date"
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select("event_type", "date", "gid", "n_events", "sum_value")
    )
    return quantize_cols(out, "sum_value")


ORACLE_GROUPING_SETS_EVENTS = """
SELECT event_type, CAST(ts AS DATE) AS date,
       CAST(GROUPING(event_type, CAST(ts AS DATE)) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(CAST(sum(value) AS REAL) AS DOUBLE) AS sum_value
FROM events
GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
"""

QUERIES["grouping_sets_events"] = q_grouping_sets_events
ORACLES["grouping_sets_events"] = ORACLE_GROUPING_SETS_EVENTS


# ---------------------------------------------------------------------------
# Trending top-k per time window
# ---------------------------------------------------------------------------

TRENDING_K = 3


def q_trending_types_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per hour by count — the per-window rank
    composition every live dashboard runs: one (window, type)
    aggregate, then a rank window PARTITIONED BY the hour, so the
    sort is per-hour over |types| rows, never global. Deterministic
    tie-break on type."""
    ev = _events(spark, sf_dir)
    counts = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    from pyspark.sql.window import Window as W

    w = W.partitionBy("hour").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TRENDING_K)
    )


ORACLE_TRENDING_TYPES_HOURLY = f"""
WITH counts AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY hour ORDER BY n_events DESC, event_type) AS BIGINT) AS rank
  FROM counts
)
SELECT hour, event_type, n_events, rank
FROM ranked WHERE rank <= {TRENDING_K}
"""

QUERIES["trending_types_hourly"] = q_trending_types_hourly
ORACLES["trending_types_hourly"] = ORACLE_TRENDING_TYPES_HOURLY


# ---------------------------------------------------------------------------
# Profile drift between snapshots
# ---------------------------------------------------------------------------

def q_profile_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality drift gate (extensions/profiling.py:profile_drift):
    snapshot A = even doc_ids, snapshot B = odd doc_ids with planted
    degradation (lang nulled on every 5th doc) — the nightly
    before/after table diff. Null-rate deltas and distinct ratios are
    single divisions of exact ints; one profile scan per side."""
    from ..extensions.profiling import profile_drift
    from ..sources.parquet import load_table as _lt

    configure_for_oracle_parity(spark)
    docs = _lt(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "source", "n_chars"
    )
    b = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, None)
        .otherwise(F.col("lang"))
        .alias("lang"),
        "source",
        "n_chars",
    )
    out = profile_drift(a, b, ["lang", "source", "n_chars"])
    return quantize_cols(out, "null_rate_delta", "distinct_ratio")


ORACLE_PROFILE_DRIFT_DOCUMENTS = """
WITH a AS (
  SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 2 = 0
),
b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS lang,
         source, n_chars
  FROM documents WHERE doc_id % 2 = 1
),
pa AS (
  SELECT col AS "column", n_rows, n_nulls, n_distinct, min_v, max_v FROM (
    SELECT 'lang' AS col, count(*) AS n_rows,
           sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS n_nulls,
           count(DISTINCT lang) AS n_distinct,
           min(CAST(lang AS VARCHAR)) AS min_v, max(CAST(lang AS VARCHAR)) AS max_v FROM a
    UNION ALL
    SELECT 'source', count(*),
           sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
           count(DISTINCT source),
           min(CAST(source AS VARCHAR)), max(CAST(source AS VARCHAR)) FROM a
    UNION ALL
    SELECT 'n_chars', count(*),
           sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END),
           count(DISTINCT n_chars),
           min(CAST(n_chars AS VARCHAR)), max(CAST(n_chars AS VARCHAR)) FROM a
  )
),
pb AS (
  SELECT col AS "column", n_rows, n_nulls, n_distinct, min_v, max_v FROM (
    SELECT 'lang' AS col, count(*) AS n_rows,
           sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS n_nulls,
           count(DISTINCT lang) AS n_distinct,
           min(CAST(lang AS VARCHAR)) AS min_v, max(CAST(lang AS VARCHAR)) AS max_v FROM b
    UNION ALL
    SELECT 'source', count(*),
           sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
           count(DISTINCT source),
           min(CAST(source AS VARCHAR)), max(CAST(source AS VARCHAR)) FROM b
    UNION ALL
    SELECT 'n_chars', count(*),
           sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END),
           count(DISTINCT n_chars),
           min(CAST(n_chars AS VARCHAR)), max(CAST(n_chars AS VARCHAR)) FROM b
  )
)
SELECT pa."column" AS "column",
       CAST(pa.n_rows AS BIGINT) AS a_rows,
       CAST(pb.n_rows AS BIGINT) AS b_rows,
       CAST(CAST(
         pb.n_nulls / CAST(pb.n_rows AS DOUBLE)
         - pa.n_nulls / CAST(pa.n_rows AS DOUBLE) AS REAL) AS DOUBLE)
         AS null_rate_delta,
       CAST(CAST(CASE WHEN pa.n_distinct > 0
                      THEN pb.n_distinct / CAST(pa.n_distinct AS DOUBLE)
                 END AS REAL)
            AS DOUBLE) AS distinct_ratio,
       (pa.min_v IS DISTINCT FROM pb.min_v
        OR pa.max_v IS DISTINCT FROM pb.max_v) AS bounds_moved,
       (abs(pb.n_nulls / CAST(pb.n_rows AS DOUBLE)
            - pa.n_nulls / CAST(pa.n_rows AS DOUBLE)) > 0.01
        OR pa.min_v IS DISTINCT FROM pb.min_v
        OR pa.max_v IS DISTINCT FROM pb.max_v) AS drifted
FROM pa JOIN pb USING ("column")
"""

QUERIES["profile_drift_documents"] = q_profile_drift_documents
ORACLES["profile_drift_documents"] = ORACLE_PROFILE_DRIFT_DOCUMENTS


# ---------------------------------------------------------------------------
# Period-over-period change
# ---------------------------------------------------------------------------

def q_daily_value_pop_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day percent change of total event value — one daily
    aggregate plus a lag over the (tiny) per-day series; the global
    date ordering window runs over |days| rows, never events. Sums
    quantized; the pct change divides two already-quantized values, so
    one more quantization makes the division engine-exact."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(F.col("ts").cast("date").alias("date")).agg(
        F.sum("value").alias("total_value")
    )
    daily = quantize_cols(daily, "total_value")
    from pyspark.sql.window import Window as W

    w = W.orderBy("date")
    prev = F.lag("total_value").over(w)
    out = daily.select(
        "date",
        "total_value",
        F.when(prev != 0, (F.col("total_value") - prev) / prev).alias(
            "pct_change"
        ),
    )
    return quantize_cols(out, "pct_change")


ORACLE_DAILY_VALUE_POP_CHANGE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date,
         CAST(CAST(sum(value) AS REAL) AS DOUBLE) AS total_value
  FROM events GROUP BY 1
)
SELECT date, total_value,
       CAST(CAST(
         CASE WHEN lag(total_value) OVER (ORDER BY date) != 0
              THEN (total_value - lag(total_value) OVER (ORDER BY date))
                   / lag(total_value) OVER (ORDER BY date)
         END AS REAL) AS DOUBLE) AS pct_change
FROM daily
"""

QUERIES["daily_value_pop_change"] = q_daily_value_pop_change
ORACLES["daily_value_pop_change"] = ORACLE_DAILY_VALUE_POP_CHANGE


# ---------------------------------------------------------------------------
# Session path extraction
# ---------------------------------------------------------------------------

def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-type path per session (clickstream analysis):
    sessions from the production sessionizer, the path rebuilt
    row-locally from position-sorted struct collects (the
    sentence-dedup ordering rule — never collection order). One
    session per row with its '>'-joined path and length."""
    from ..operators.sessions import with_session_seq

    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    sess = with_session_seq(
        ev,
        key_col="user_id",
        ts_col="ts",
        gap_seconds=300,
        tiebreak_cols=("event_id",),
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s.getField("event_type"),
                ),
                ">",
            ).alias("path"),
        )
        .withColumn("session_seq", F.col("session_seq").cast("long"))
    )


ORACLE_SESSION_PATHS = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) > 300000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, ts, event_id, event_type,
         1 + sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM ordered
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(count(*) AS BIGINT) AS n_events,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS path
FROM islands
GROUP BY 1, 2
"""

QUERIES["session_paths"] = q_session_paths
ORACLES["session_paths"] = ORACLE_SESSION_PATHS


# ---------------------------------------------------------------------------
# ABC / Pareto classification
# ---------------------------------------------------------------------------

def q_abc_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC classification of customers by revenue: cumulative
    share of total (exclusive running sum, so the first customer is
    'A' regardless of concentration), class A < 0.8 <= B < 0.95 <= C.
    Two tiny post-agg windows over |customers| rows; shares divide
    quantized sums so the class cut is engine-exact."""
    orders = _orders(spark, sf_dir)
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("revenue")
    )
    per_cust = quantize_cols(per_cust, "revenue")
    from pyspark.sql.window import Window as W

    w = W.orderBy(F.col("revenue").desc(), F.col("o_custkey")).rowsBetween(
        W.unboundedPreceding, -1
    )
    total = F.sum("revenue").over(
        W.partitionBy()
    )
    cum_before = F.coalesce(F.sum("revenue").over(w), F.lit(0.0))
    share_before = gate_quantize(cum_before / total)
    out = per_cust.select(
        "o_custkey",
        "revenue",
        share_before.alias("cum_share_before"),
        F.when(share_before < 0.8, "A")
        .when(share_before < 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return out


ORACLE_ABC_CUSTOMERS = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(CAST(sum(o_totalprice) AS REAL) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
),
shares AS (
  SELECT o_custkey, revenue,
         CAST(CAST(
           coalesce(sum(revenue) OVER (
             ORDER BY revenue DESC, o_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / sum(revenue) OVER () AS REAL) AS DOUBLE) AS cum_share_before
  FROM per_cust
)
SELECT o_custkey, revenue, cum_share_before,
       CASE WHEN cum_share_before < 0.8 THEN 'A'
            WHEN cum_share_before < 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM shares
"""

QUERIES["abc_customers"] = q_abc_customers
ORACLES["abc_customers"] = ORACLE_ABC_CUSTOMERS


# ---------------------------------------------------------------------------
# Conditional + spread aggregate family
# ---------------------------------------------------------------------------

def q_conditional_aggs_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The modern aggregate surface in one gate: count_if, bool_and /
    bool_or, var/stddev (sample + population), and max_by / min_by.
    max_by's by-key is value*1e6 + event_id — a scalar that is unique
    (event ids are distinct) and computed by the identical IEEE ops on
    both engines, so the arg selection is deterministic where a tied
    raw value would be engine-arbitrary. Spread statistics quantized
    (order-dependent moment sums)."""
    ev = _events(spark, sf_dir)
    bykey = F.col("value") * F.lit(1_000_000.0) + F.col("event_id").cast(
        "double"
    )
    out = ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 100).alias("n_hot"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 400).alias("any_extreme"),
        F.var_samp("value").alias("var_s"),
        F.stddev_samp("value").alias("sd_s"),
        F.var_pop("value").alias("var_p"),
        F.stddev_pop("value").alias("sd_p"),
        F.max_by("event_id", bykey).alias("max_value_event"),
        F.min_by("event_id", bykey).alias("min_value_event"),
    )
    return quantize_cols(out, "var_s", "sd_s", "var_p", "sd_p")


ORACLE_CONDITIONAL_AGGS_BY_TYPE = """
SELECT event_type,
  CAST(count_if(value > 100) AS BIGINT) AS n_hot,
  bool_and(value >= 0) AS all_nonneg,
  bool_or(value > 400) AS any_extreme,
  CAST(CAST(var_samp(value) AS REAL) AS DOUBLE) AS var_s,
  CAST(CAST(stddev_samp(value) AS REAL) AS DOUBLE) AS sd_s,
  CAST(CAST(var_pop(value) AS REAL) AS DOUBLE) AS var_p,
  CAST(CAST(stddev_pop(value) AS REAL) AS DOUBLE) AS sd_p,
  arg_max(event_id, value * 1000000.0 + CAST(event_id AS DOUBLE))
    AS max_value_event,
  arg_min(event_id, value * 1000000.0 + CAST(event_id AS DOUBLE))
    AS min_value_event
FROM events
GROUP BY event_type
"""

QUERIES["conditional_aggs_by_type"] = q_conditional_aggs_by_type
ORACLES["conditional_aggs_by_type"] = ORACLE_CONDITIONAL_AGGS_BY_TYPE


# ---------------------------------------------------------------------------
# Scalar function families (SURVEY §2.8 completion sweep)
# ---------------------------------------------------------------------------

def q_string_functions_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """String-function museum in one projection: case, padding,
    reverse, translate, edit distance, split_part, repeat, md5
    substring — all row-local JVM expressions with identical semantics
    on both engines (Levenshtein is the textbook DP distance in
    both)."""
    from ..sources.parquet import load_table as _lt

    configure_for_oracle_parity(spark)
    d = _lt(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("lang").alias("lang_upper"),
        F.lpad("lang", 5, "_").alias("lang_padded"),
        F.reverse("source").alias("source_rev"),
        F.translate("lang", "aeiou", "12345").alias("lang_translated"),
        F.levenshtein("lang", "source").alias("edit_dist"),
        F.split_part(F.col("source"), F.lit("_"), F.lit(1)).alias(
            "source_head"
        ),
        F.repeat("lang", 2).alias("lang_doubled"),
        F.substring(F.md5("lang"), 1, 6).alias("lang_hash6"),
    )


ORACLE_STRING_FUNCTIONS_DOCUMENTS = """
SELECT doc_id,
       upper(lang) AS lang_upper,
       lpad(lang, 5, '_') AS lang_padded,
       reverse(source) AS source_rev,
       translate(lang, 'aeiou', '12345') AS lang_translated,
       CAST(levenshtein(lang, source) AS INT) AS edit_dist,
       split_part(source, '_', 1) AS source_head,
       repeat(lang, 2) AS lang_doubled,
       substr(md5(lang), 1, 6) AS lang_hash6
FROM documents
"""

QUERIES["string_functions_documents"] = q_string_functions_documents
ORACLES["string_functions_documents"] = ORACLE_STRING_FUNCTIONS_DOCUMENTS


def q_date_functions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-function sweep: year/quarter/month, ISO day-of-week
    (Spark ``weekday``+1 == DuckDB ``isodow`` — the 1-based-Sunday
    convention trap documented away), day-of-year, ISO week, last day
    of month, date arithmetic. All row-local."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.quarter("ts").alias("q"),
        F.month("ts").alias("m"),
        (F.weekday("ts") + 1).alias("isodow"),
        F.dayofyear("ts").alias("doy"),
        F.weekofyear("ts").alias("iso_week"),
        F.last_day("ts").alias("month_end"),
        F.date_add(F.col("ts").cast("date"), 7).alias("plus_week"),
    )


ORACLE_DATE_FUNCTIONS_EVENTS = """
SELECT event_id,
       CAST(year(ts) AS INT) AS y,
       CAST(quarter(ts) AS INT) AS q,
       CAST(month(ts) AS INT) AS m,
       CAST(isodow(ts) AS INT) AS isodow,
       CAST(dayofyear(ts) AS INT) AS doy,
       CAST(weekofyear(ts) AS INT) AS iso_week,
       last_day(ts) AS month_end,
       CAST(ts AS DATE) + 7 AS plus_week
FROM events
"""

QUERIES["date_functions_events"] = q_date_functions_events
ORACLES["date_functions_events"] = ORACLE_DATE_FUNCTIONS_EVENTS


def q_array_functions_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Array-function sweep over the token stream: slice, distinct,
    sort, size, set ops vs a constant vocabulary — results
    canonicalized (sorted, joined) because set-result ordering is
    engine-arbitrary by definition."""
    from ..sources.parquet import load_table as _lt

    configure_for_oracle_parity(spark)
    d = _lt(spark, sf_dir, "documents")
    toks8 = F.slice(F.split(F.col("text"), " "), 1, 8)
    stop = F.array(F.lit("the"), F.lit("and"), F.lit("of"))
    return d.select(
        "doc_id",
        F.size(toks8).alias("n_head_tokens"),
        F.array_join(F.array_sort(F.array_distinct(toks8)), ",").alias(
            "head_sorted"
        ),
        F.array_join(
            F.array_sort(F.array_intersect(toks8, stop)), ","
        ).alias("head_stopwords"),
        F.array_join(F.array_sort(F.array_except(toks8, stop)), ",").alias(
            "head_content"
        ),
        F.element_at(F.array_sort(toks8), 1).alias("first_sorted_token"),
    )


ORACLE_ARRAY_FUNCTIONS_DOCUMENTS = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ')[1:8] AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_head_tokens,
       array_to_string(list_sort(list_distinct(toks)), ',') AS head_sorted,
       array_to_string(list_sort(list_intersect(toks,
         ['the', 'and', 'of'])), ',') AS head_stopwords,
       array_to_string(list_sort(list_filter(list_distinct(toks),
         x -> NOT list_contains(['the', 'and', 'of'], x))), ',')
         AS head_content,
       list_sort(toks)[1] AS first_sorted_token
FROM t
"""

QUERIES["array_functions_documents"] = q_array_functions_documents
ORACLES["array_functions_documents"] = ORACLE_ARRAY_FUNCTIONS_DOCUMENTS


# ---------------------------------------------------------------------------
# Ranking window-function family
# ---------------------------------------------------------------------------

def q_ranking_functions_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ranking museum in one window: row_number, rank, dense_rank,
    ntile(4), percent_rank, cume_dist over (type, value) — fully
    tie-broken on event_id so every engine computes the identical
    order (percent_rank/cume_dist are exact-int ratios, no floats to
    quantize... but quantized anyway for the division). One key
    exchange, per-type sorts."""
    ev = _events(spark, sf_dir)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("event_type").orderBy("value", "event_id")
    out = ev.select(
        "event_id",
        "event_type",
        "value",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return quantize_cols(out, "pr", "cd")


ORACLE_RANKING_FUNCTIONS_EVENTS = """
SELECT event_id, event_type, value,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       CAST(CAST(percent_rank() OVER w AS REAL) AS DOUBLE) AS pr,
       CAST(CAST(cume_dist() OVER w AS REAL) AS DOUBLE) AS cd
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""

QUERIES["ranking_functions_events"] = q_ranking_functions_events
ORACLES["ranking_functions_events"] = ORACLE_RANKING_FUNCTIONS_EVENTS


# ---------------------------------------------------------------------------
# JSON + null-handling scalar families
# ---------------------------------------------------------------------------

def q_json_null_functions_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JSON extraction (present + missing path -> null) and the
    null-calculus family: nullif, coalesce recovery chains,
    greatest/least clamps, null-default substitution. All row-local
    expressions with identical semantics on both engines."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return ev.select(
        "event_id",
        k.alias("k"),
        F.get_json_object(F.col("props"), "$.missing").alias("missing"),
        F.nullif(F.col("event_type"), F.lit("error")).alias(
            "type_or_null"
        ),
        F.coalesce(
            F.nullif(F.col("event_type"), F.lit("error")),
            F.lit("was-error"),
        ).alias("recovered"),
        F.greatest(F.col("value"), F.lit(100.0)).alias("floor100"),
        F.least(F.col("value"), F.lit(100.0)).alias("cap100"),
        F.when(F.col("value").isNull(), F.lit(-1.0))
        .otherwise(F.col("value"))
        .alias("nvl_value"),
    )


ORACLE_JSON_NULL_FUNCTIONS_EVENTS = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k,
       json_extract_string(props, '$.missing') AS missing,
       nullif(event_type, 'error') AS type_or_null,
       coalesce(nullif(event_type, 'error'), 'was-error') AS recovered,
       greatest(value, 100.0) AS floor100,
       least(value, 100.0) AS cap100,
       CASE WHEN value IS NULL THEN -1.0 ELSE value END AS nvl_value
FROM events
"""

QUERIES["json_null_functions_events"] = q_json_null_functions_events
ORACLES["json_null_functions_events"] = ORACLE_JSON_NULL_FUNCTIONS_EVENTS


# ---------------------------------------------------------------------------
# Map / struct scalar-function family
# ---------------------------------------------------------------------------

def q_map_functions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map/struct scalar-function sweep — the last built-in family
    without a dedicated gate: map_from_entries, create_map,
    map_concat, element_at, size, map_filter, transform_values,
    map_entries, plus struct build + field access. Map ITERATION
    order is engine-arbitrary, so every map-valued result is
    canonicalized to a sorted ``k=v`` string before hashing (the
    array-gate convention); lookups and sizes are scalar. All
    row-local — zero shuffles."""
    ev = _events(spark, sf_dir)
    band = (
        F.when(F.col("value") >= 50.0, F.lit("high"))
        .otherwise(F.lit("low"))
    )
    m = F.map_from_entries(
        F.array(
            F.struct(F.lit("type").alias("k"), F.col("event_type").alias("v")),
            F.struct(F.lit("band").alias("k"), band.alias("v")),
        )
    )
    merged = F.map_concat(m, F.create_map(F.lit("src"), F.lit("events")))
    entry_strs = F.transform(
        F.map_entries(merged),
        lambda e: F.concat_ws("=", e["key"], e["value"]),
    )
    s = F.struct(
        F.col("user_id").alias("uid"), F.col("event_type").alias("etype")
    )
    return ev.select(
        "event_id",
        F.size(merged).cast("int").alias("n_entries"),
        F.array_join(F.array_sort(entry_strs), ",").alias("entries_sorted"),
        F.element_at(m, F.lit("type")).alias("type_val"),
        F.element_at(merged, F.lit("src")).alias("src_val"),
        F.size(F.map_filter(merged, lambda k, v: v != F.lit("low")))
        .cast("int")
        .alias("n_not_low"),
        F.element_at(
            F.transform_values(m, lambda k, v: F.upper(v)), F.lit("type")
        ).alias("type_upper"),
        s["etype"].alias("struct_etype"),
        (s["uid"] % 7).cast("long").alias("struct_uid_mod7"),
    )


ORACLE_MAP_FUNCTIONS_EVENTS = """
WITH base AS (
  SELECT event_id, user_id, event_type,
         CASE WHEN value >= 50.0 THEN 'high' ELSE 'low' END AS band
  FROM events
)
SELECT event_id,
       CAST(3 AS INT) AS n_entries,
       array_to_string(list_sort(['type=' || event_type,
                                  'band=' || band,
                                  'src=events']), ',') AS entries_sorted,
       event_type AS type_val,
       'events' AS src_val,
       CAST(CASE WHEN band = 'low' THEN 2 ELSE 3 END AS INT) AS n_not_low,
       upper(event_type) AS type_upper,
       event_type AS struct_etype,
       CAST(user_id % 7 AS BIGINT) AS struct_uid_mod7
FROM base
"""

QUERIES["map_functions_events"] = q_map_functions_events
ORACLES["map_functions_events"] = ORACLE_MAP_FUNCTIONS_EVENTS


# ---------------------------------------------------------------------------
# Generator (explode) and higher-order-function families
# ---------------------------------------------------------------------------

def q_generator_functions_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Generator-function gate: ``posexplode`` fans each doc's first
    five tokens into (pos, token) rows — the lateral-view surface that
    backs every token-level pipeline op. Row-local expand (Catalyst
    ``Generate``), zero shuffles; the oracle zips DuckDB's parallel
    ``unnest`` with a 0-based range to match Spark's 0-based pos."""
    from ..sources.parquet import load_table as _lt

    configure_for_oracle_parity(spark)
    d = _lt(spark, sf_dir, "documents")
    toks5 = F.slice(F.split(F.col("text"), " "), 1, 5)
    return d.select(
        "doc_id", F.posexplode(toks5).alias("pos", "token")
    ).select("doc_id", F.col("pos").cast("int").alias("pos"), "token")


ORACLE_GENERATOR_FUNCTIONS_DOCUMENTS = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ')[1:5] AS toks FROM documents
)
SELECT doc_id,
       CAST(unnest(range(0, len(toks))) AS INT) AS pos,
       unnest(toks) AS token
FROM t
"""

QUERIES["generator_functions_documents"] = q_generator_functions_documents
ORACLES["generator_functions_documents"] = (
    ORACLE_GENERATOR_FUNCTIONS_DOCUMENTS
)


def q_hof_functions_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Higher-order-function gate: exists / forall / aggregate (fold) /
    zip_with / indexed transform over the token array — the lambda
    surface the extension operators lean on (all evaluated inside
    codegen, never Python). Array results canonicalized to joined
    strings; the fold result is the whitespace character count, cross-
    checked against DuckDB's list_sum."""
    from ..sources.parquet import load_table as _lt

    configure_for_oracle_parity(spark)
    d = _lt(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    lens = F.transform(toks, lambda x: F.length(x))
    return d.select(
        "doc_id",
        F.exists(toks, lambda x: x == F.lit("the")).alias("has_the"),
        F.forall(toks, lambda x: F.length(x) < F.lit(20)).alias(
            "all_short"
        ),
        F.aggregate(
            lens, F.lit(0), lambda acc, x: acc + x
        ).cast("long").alias("sum_token_len"),
        F.array_join(
            F.zip_with(
                lens, F.reverse(lens), lambda a, b: (a + b).cast("string")
            ),
            ",",
        ).alias("palindrome_lens"),
        F.array_join(
            F.transform(
                F.slice(toks, 1, 3),
                lambda x, i: F.concat_ws(":", i.cast("string"), x),
            ),
            ",",
        ).alias("indexed_head"),
    )


ORACLE_HOF_FUNCTIONS_DOCUMENTS = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         list_transform(string_split(text, ' '), x -> length(x)) AS lens
  FROM documents
)
SELECT doc_id,
       len(list_filter(toks, x -> x = 'the')) > 0 AS has_the,
       len(list_filter(toks, x -> length(x) >= 20)) = 0 AS all_short,
       CAST(list_sum(lens) AS BIGINT) AS sum_token_len,
       array_to_string(
         list_transform(range(1, len(lens) + 1),
                        i -> CAST(lens[i] + lens[len(lens) - i + 1]
                                  AS VARCHAR)), ',') AS palindrome_lens,
       array_to_string(
         list_transform(range(1, least(3, len(toks)) + 1),
                        i -> CAST(i - 1 AS VARCHAR) || ':' || toks[i]),
         ',') AS indexed_head
FROM t
"""

QUERIES["hof_functions_documents"] = q_hof_functions_documents
ORACLES["hof_functions_documents"] = ORACLE_HOF_FUNCTIONS_DOCUMENTS


# ---------------------------------------------------------------------------
# Set-operation family (INTERSECT / EXCEPT, distinct and ALL forms)
# ---------------------------------------------------------------------------

def q_setops_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation sweep over (user, day) activity multisets:
    click-days vs purchase-days through ``intersectAll`` /
    ``exceptAll`` (bag semantics — duplicates survive by
    multiplicity) and ``intersect`` / ``subtract`` (distinct
    semantics), each tagged and unioned into one relation. Completes
    §2.7 beyond union+dedup: Catalyst plans these as
    aggregate-wrapped joins, one key exchange per branch."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.col("ts").cast("date").alias("date"),
        "event_type",
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "date"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "date"
    )
    tagged = [
        clicks.intersectAll(purchases).withColumn(
            "op", F.lit("intersect_all")
        ),
        clicks.exceptAll(purchases).withColumn("op", F.lit("except_all")),
        clicks.intersect(purchases).withColumn("op", F.lit("intersect")),
        clicks.subtract(purchases).withColumn("op", F.lit("except")),
    ]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    return out.select("op", "user_id", "date")


ORACLE_SETOPS_EVENTS = """
WITH c AS (
  SELECT user_id, CAST(ts AS DATE) AS date FROM events
  WHERE event_type = 'click'
),
p AS (
  SELECT user_id, CAST(ts AS DATE) AS date FROM events
  WHERE event_type = 'purchase'
)
SELECT 'intersect_all' AS op, user_id, date
FROM (SELECT * FROM c INTERSECT ALL SELECT * FROM p)
UNION ALL
SELECT 'except_all', user_id, date
FROM (SELECT * FROM c EXCEPT ALL SELECT * FROM p)
UNION ALL
SELECT 'intersect', user_id, date
FROM (SELECT * FROM c INTERSECT SELECT * FROM p)
UNION ALL
SELECT 'except', user_id, date
FROM (SELECT * FROM c EXCEPT SELECT * FROM p)
"""

QUERIES["setops_events"] = q_setops_events
ORACLES["setops_events"] = ORACLE_SETOPS_EVENTS


def q_regexp_functions_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Regular-expression function family in one projection: first
    capture-group extract, match counting via extract_all, global
    replace (Spark replaces every match by default — the DuckDB oracle
    needs the explicit 'g' flag), rlike, and regexp_count. Patterns
    stay in the character-class subset where Java and RE2 regex
    dialects agree exactly. All row-local JVM expressions."""
    from ..sources.parquet import load_table as _lt

    configure_for_oracle_parity(spark)
    d = _lt(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+)", 1).alias("first_word"),
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), F.lit(0))).alias(
            "n_numbers"
        ),
        F.regexp_replace("source", r"[0-9]+", "#").alias("source_masked"),
        F.col("text").rlike("scan").alias("mentions_scan"),
        F.regexp_count("text", F.lit(r"\bjoin\b")).alias("n_join"),
        F.regexp_extract("source", r"^([a-z]+)", 1).alias("source_kind"),
    )


ORACLE_REGEXP_FUNCTIONS_DOCUMENTS = r"""
SELECT doc_id,
       regexp_extract(text, '([a-z]+)', 1) AS first_word,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_numbers,
       regexp_replace(source, '[0-9]+', '#', 'g') AS source_masked,
       regexp_matches(text, 'scan') AS mentions_scan,
       CAST(len(regexp_extract_all(text, '\bjoin\b')) AS INT) AS n_join,
       regexp_extract(source, '^([a-z]+)', 1) AS source_kind
FROM documents
"""

QUERIES["regexp_functions_documents"] = q_regexp_functions_documents
ORACLES["regexp_functions_documents"] = ORACLE_REGEXP_FUNCTIONS_DOCUMENTS


def q_math_functions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math and bitwise scalar family: abs/sign/floor/ceil, IEEE
    correctly-rounded sqrt (bit-exact across engines by spec), pmod,
    bitwise and/xor/shift, hex, factorial, greatest — plus exp/ln/pow,
    which are only ulp-accurate in each engine's libm, so those three
    ship through the float32 gate quantization like every
    order-sensitive sum."""
    from ..functions.numeric import quantize_cols

    ev = _events(spark, sf_dir)
    out = ev.select(
        "event_id",
        F.abs(F.col("value") - 10.0).alias("abs_dev"),
        F.signum(F.col("value") - 10.0).alias("dev_sign"),
        F.floor("value").cast("long").alias("value_floor"),
        F.ceil("value").cast("long").alias("value_ceil"),
        F.sqrt("value").alias("value_sqrt"),
        F.pmod(F.col("event_id"), F.lit(7)).alias("id_mod7"),
        (F.col("event_id").bitwiseAND(F.lit(255))).alias("id_and255"),
        (F.col("user_id").bitwiseXOR(F.col("event_id"))).alias("uid_xor_id"),
        F.shiftleft(F.col("user_id"), 2).alias("uid_shl2"),
        F.shiftright(F.col("event_id"), 3).alias("id_shr3"),
        F.hex(F.col("event_id")).alias("id_hex"),
        F.factorial(F.pmod(F.col("event_id"), F.lit(10)).cast("int")).alias(
            "mod_factorial"
        ),
        F.greatest(F.col("value"), F.lit(10.0)).alias("value_hi"),
        F.exp(-F.col("value") / 100.0).alias("decay"),
        F.log(F.col("value") + 1.0).alias("log_value"),
        F.pow(F.col("value"), 2.0).alias("value_sq"),
    )
    return quantize_cols(out, "decay", "log_value", "value_sq")


ORACLE_MATH_FUNCTIONS_EVENTS = """
SELECT event_id,
       abs(value - 10.0) AS abs_dev,
       CAST(sign(value - 10.0) AS DOUBLE) AS dev_sign,
       CAST(floor(value) AS BIGINT) AS value_floor,
       CAST(ceil(value) AS BIGINT) AS value_ceil,
       sqrt(value) AS value_sqrt,
       CAST(mod(event_id, 7) AS BIGINT) AS id_mod7,
       CAST(event_id & 255 AS BIGINT) AS id_and255,
       CAST(xor(user_id, event_id) AS BIGINT) AS uid_xor_id,
       CAST(user_id << 2 AS BIGINT) AS uid_shl2,
       CAST(event_id >> 3 AS BIGINT) AS id_shr3,
       hex(event_id) AS id_hex,
       CAST(factorial(CAST(mod(event_id, 10) AS INT)) AS BIGINT)
         AS mod_factorial,
       greatest(value, 10.0) AS value_hi,
       CAST(CAST(exp(-value / 100.0) AS REAL) AS DOUBLE) AS decay,
       CAST(CAST(ln(value + 1.0) AS REAL) AS DOUBLE) AS log_value,
       CAST(CAST(power(value, 2.0) AS REAL) AS DOUBLE) AS value_sq
FROM events
"""

QUERIES["math_functions_events"] = q_math_functions_events
ORACLES["math_functions_events"] = ORACLE_MATH_FUNCTIONS_EVENTS


def q_rolling_median_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median — an ordered-set aggregate AS a window
    function (the family W1/W2's mean/sum rollers don't touch): the
    60-row trailing median of each user's readings. Spark's exact
    ``percentile(…, 0.5)`` and DuckDB's ``median`` both average the
    two middle elements on even counts, but via different IEEE
    expressions (lerp vs midpoint), so the column ships through the
    float32 gate quantization. One user-keyed exchange; the frame is
    row-bounded so state per open window is 60 values."""
    ev = _events(spark, sf_dir)
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-59, W.currentRow)
    )
    out = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.expr("percentile(value, 0.5)").over(w).alias("rolling_median"),
    )
    return quantize_cols(out, "rolling_median")


ORACLE_ROLLING_MEDIAN_EVENTS = """
SELECT event_id, user_id, ts, value,
       CAST(CAST(median(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 59 PRECEDING AND CURRENT ROW
       ) AS REAL) AS DOUBLE) AS rolling_median
FROM events
"""

QUERIES["rolling_median_events"] = q_rolling_median_events
ORACLES["rolling_median_events"] = ORACLE_ROLLING_MEDIAN_EVENTS


def q_stats_moments_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-aggregate family: Pearson correlation, sample and
    population covariance, skewness, kurtosis per return flag.
    CONVENTION TRAP documented by the oracle: Spark's skewness/
    kurtosis are the POPULATION moments (g1, excess g2); DuckDB's
    built-ins apply the sample correction, so the oracle computes the
    central moments itself (two-pass CTE — group means joined back —
    avoiding raw-moment cancellation). All order-sensitive doubles
    ship through float32 quantization; one keyed exchange."""
    from ..sources.parquet import load_table as _lt

    configure_for_oracle_parity(spark)
    li = _lt(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.corr("l_quantity", "l_extendedprice").alias("corr_qty_price"),
        F.covar_samp("l_quantity", "l_extendedprice").alias("covs_qty_price"),
        F.covar_pop("l_quantity", "l_extendedprice").alias("covp_qty_price"),
        F.skewness("l_quantity").alias("skew_qty"),
        F.kurtosis("l_quantity").alias("kurt_qty"),
        F.count(F.lit(1)).alias("n"),
    )
    return quantize_cols(
        out,
        "corr_qty_price",
        "covs_qty_price",
        "covp_qty_price",
        "skew_qty",
        "kurt_qty",
    )


ORACLE_STATS_MOMENTS_LINEITEM = """
WITH m AS (
  SELECT l_returnflag, avg(l_quantity) AS mu,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1
),
c AS (
  SELECT l.l_returnflag,
         avg(pow(l.l_quantity - m.mu, 2)) AS m2,
         avg(pow(l.l_quantity - m.mu, 3)) AS m3,
         avg(pow(l.l_quantity - m.mu, 4)) AS m4
  FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
  GROUP BY 1
),
agg AS (
  SELECT l_returnflag,
         corr(l_quantity, l_extendedprice) AS corr_qty_price,
         covar_samp(l_quantity, l_extendedprice) AS covs_qty_price,
         covar_pop(l_quantity, l_extendedprice) AS covp_qty_price
  FROM lineitem GROUP BY 1
)
SELECT a.l_returnflag,
       CAST(CAST(a.corr_qty_price AS REAL) AS DOUBLE) AS corr_qty_price,
       CAST(CAST(a.covs_qty_price AS REAL) AS DOUBLE) AS covs_qty_price,
       CAST(CAST(a.covp_qty_price AS REAL) AS DOUBLE) AS covp_qty_price,
       CAST(CAST(c.m3 / pow(c.m2, 1.5) AS REAL) AS DOUBLE) AS skew_qty,
       CAST(CAST(c.m4 / pow(c.m2, 2) - 3.0 AS REAL) AS DOUBLE) AS kurt_qty,
       m.n
FROM agg a JOIN c ON a.l_returnflag = c.l_returnflag
JOIN m ON a.l_returnflag = m.l_returnflag
"""

QUERIES["stats_moments_lineitem"] = q_stats_moments_lineitem
ORACLES["stats_moments_lineitem"] = ORACLE_STATS_MOMENTS_LINEITEM


def q_navigation_functions_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Window navigation family — the §2.5 members the ranking and
    rolling gates don't touch: lag with an explicit default, multi-row
    lead, first_value, last_value over a bounded FORWARD frame, and
    nth_value under the default running frame (NULL until the nth row
    enters — identical frame semantics in both engines, probed). Fully
    tie-broken ordering; one user-keyed exchange."""
    ev = _events(spark, sf_dir)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    fwd = w.rowsBetween(W.currentRow, 2)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value", 1, -1.0).over(w).alias("prev_value"),
        F.lead("value", 2).over(w).alias("next2_value"),
        F.first("value").over(w).alias("first_value"),
        F.last("value").over(fwd).alias("last_in_next3"),
        F.nth_value("value", 3).over(w).alias("third_value"),
    )


ORACLE_NAVIGATION_FUNCTIONS_EVENTS = """
SELECT event_id, user_id, value,
       lag(value, 1, -1.0) OVER w AS prev_value,
       lead(value, 2) OVER w AS next2_value,
       first_value(value) OVER w AS first_value,
       last_value(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING
       ) AS last_in_next3,
       nth_value(value, 3) OVER w AS third_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

QUERIES["navigation_functions_events"] = q_navigation_functions_events
ORACLES["navigation_functions_events"] = ORACLE_NAVIGATION_FUNCTIONS_EVENTS


# DataSketches HLL, default lgK = 12: relative standard error
# 1.04 / sqrt(2^12) ≈ 1.63 %; gate at 3 sigma.
HLL_BOUND = 3 * 1.04 / (2 ** 12) ** 0.5


def q_hll_reach_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in DataSketches HLL family
    (hll_sketch_agg / hll_union_agg / hll_sketch_estimate) under the
    sketch-invariant gate pattern (CMS and Bloom are bit-exact gates;
    HLL's estimate is not SQL-replayable, so the gate hashes the
    INVARIANTS): per event type, the exact user reach plus booleans
    asserting both the directly-built sketch and the daily-sketch
    union land within 3x the lgK=12 RSE of exact. Direct and merged
    estimates legitimately DIFFER beyond exact mode — a fresh sketch
    answers with the HIP estimator, a union only with the composite
    estimator — which is why the gate bounds each, not their equality.
    Shape at 100 TB: daily (type, day) sketches are KB-scale mergeable
    state (the CMS partial-agg story), union per type is a rollup over
    sketch blobs, never a re-scan."""
    ev = _events(spark, sf_dir)
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_d"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    merged = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_m"))
    )
    rel = lambda est: F.abs(est / F.col("n_exact") - 1.0)  # noqa: E731
    return direct.join(merged, "event_type").select(
        "event_type",
        "n_exact",
        (rel(F.col("est_d")) <= HLL_BOUND).alias("direct_in_bound"),
        (rel(F.col("est_m")) <= HLL_BOUND).alias("merged_in_bound"),
    )


ORACLE_HLL_REACH_EVENTS = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       true AS direct_in_bound,
       true AS merged_in_bound
FROM events GROUP BY event_type
"""

QUERIES["hll_reach_events"] = q_hll_reach_events
ORACLES["hll_reach_events"] = ORACLE_HLL_REACH_EVENTS


AB_SALT = 77


def q_ab_lift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-analysis shape: users deterministically hash-split
    into control/treatment (md5 hex-digit parity — the same RNG-free
    assignment discipline as the corpus splits), then per event type:
    group means, the lift, and Welch's t-statistic from the
    per-group (n, mean, variance) — experimentation analysis as ONE
    keyed aggregation with conditional aggregates, no self-join of
    the fact table. All derived floats are order-sensitive sums, so
    they ship through the float32 gate quantization."""
    ev = _events(spark, sf_dir)
    bucket_char = F.substring(
        F.md5(F.concat_ws("|", F.col("user_id"), F.lit(AB_SALT))), 1, 1
    )
    assigned = ev.withColumn(
        "grp",
        F.when(
            F.instr(F.lit("0123456789abcdef"), bucket_char) % 2 == 1,
            F.lit("control"),
        ).otherwise(F.lit("treatment")),
    )
    c = F.col("grp") == "control"
    t = F.col("grp") == "treatment"
    agg = assigned.groupBy("event_type").agg(
        F.count(F.when(c, 1)).alias("n_c"),
        F.avg(F.when(c, F.col("value"))).alias("mean_c"),
        F.var_samp(F.when(c, F.col("value"))).alias("var_c"),
        F.count(F.when(t, 1)).alias("n_t"),
        F.avg(F.when(t, F.col("value"))).alias("mean_t"),
        F.var_samp(F.when(t, F.col("value"))).alias("var_t"),
    )
    lift = F.col("mean_t") - F.col("mean_c")
    se = F.sqrt(
        F.col("var_t") / F.col("n_t") + F.col("var_c") / F.col("n_c")
    )
    out = agg.select(
        "event_type",
        "n_c",
        "n_t",
        "mean_c",
        "mean_t",
        lift.alias("lift"),
        (lift / se).alias("t_stat"),
    )
    return quantize_cols(out, "mean_c", "mean_t", "lift", "t_stat")


ORACLE_AB_LIFT_EVENTS = f"""
WITH a AS (
  SELECT event_type, value,
         CASE WHEN instr('0123456789abcdef',
                         substring(md5(concat(user_id, '|', {AB_SALT})),
                                   1, 1)) % 2 = 1
              THEN 'control' ELSE 'treatment' END AS grp
  FROM events
),
agg AS (
  SELECT event_type,
         CAST(count(*) FILTER (grp = 'control') AS BIGINT) AS n_c,
         avg(value) FILTER (grp = 'control') AS mean_c,
         var_samp(value) FILTER (grp = 'control') AS var_c,
         CAST(count(*) FILTER (grp = 'treatment') AS BIGINT) AS n_t,
         avg(value) FILTER (grp = 'treatment') AS mean_t,
         var_samp(value) FILTER (grp = 'treatment') AS var_t
  FROM a GROUP BY event_type
)
SELECT event_type, n_c, n_t,
       CAST(CAST(mean_c AS REAL) AS DOUBLE) AS mean_c,
       CAST(CAST(mean_t AS REAL) AS DOUBLE) AS mean_t,
       CAST(CAST(mean_t - mean_c AS REAL) AS DOUBLE) AS lift,
       CAST(CAST((mean_t - mean_c)
                 / sqrt(var_t / n_t + var_c / n_c) AS REAL) AS DOUBLE)
         AS t_stat
FROM agg
"""

QUERIES["ab_lift_events"] = q_ab_lift_events
ORACLES["ab_lift_events"] = ORACLE_AB_LIFT_EVENTS


def q_json_schema_profile_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semi-structured schema profiling — the discovery step BEFORE
    the fixed-path JSON family gate: enumerate every key appearing in
    the props payload (from_json to map<string,string> + explode, so
    keys and values surface in one row-local pass) and per key report
    presence count, value cardinality, and numeric min/max. At 100 TB
    this is how a pipeline learns what schema to conform
    semi-structured telemetry INTO; one keyed exchange after the
    map-side explode."""
    ev = _events(spark, sf_dir)
    from pyspark.sql.types import MapType, StringType

    kv = ev.select(
        F.explode(
            F.from_json("props", MapType(StringType(), StringType()))
        ).alias("k", "v")
    )
    return kv.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("v").alias("n_values"),
        F.min(F.col("v").cast("long")).alias("v_min"),
        F.max(F.col("v").cast("long")).alias("v_max"),
    )


ORACLE_JSON_SCHEMA_PROFILE_EVENTS = """
WITH kv AS (
  SELECT unnest(json_keys(props)) AS k, props FROM events
)
SELECT k,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT json_extract_string(props, '$.' || k))
            AS BIGINT) AS n_values,
       min(CAST(json_extract_string(props, '$.' || k) AS BIGINT))
         AS v_min,
       max(CAST(json_extract_string(props, '$.' || k) AS BIGINT))
         AS v_max
FROM kv GROUP BY k
"""

QUERIES["json_schema_profile_events"] = q_json_schema_profile_events
ORACLES["json_schema_profile_events"] = ORACLE_JSON_SCHEMA_PROFILE_EVENTS


def q_gapfill_linear_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear-interpolation resampling (operators/stats.py:
    gap_fill_linear) — gapfill_locf_events' smooth sibling: empty
    hourly buckets take ``prev + (next − prev) · frac`` between the
    nearest observed neighbors (both exist by construction: the grid
    spans observed buckets). The interpolation arithmetic is written
    IDENTICALLY in the oracle and the value ships through the float32
    gate quantization; observed buckets copy their value exactly."""
    out = gap_fill_linear(
        _events(spark, sf_dir),
        key="user_id",
        ts="ts",
        value="value",
        step_seconds=GAPFILL_STEP_S,
    )
    return quantize_cols(out, "value")


ORACLE_GAPFILL_LINEAR_EVENTS = f"""
WITH obs AS (
  SELECT user_id,
         (epoch_us(ts) // {GAPFILL_STEP_S * 1_000_000}) * {GAPFILL_STEP_S}
           AS bucket_ts,
         ts, value
  FROM events
),
ranked AS (
  SELECT user_id, bucket_ts, value,
         row_number() OVER (
           PARTITION BY user_id, bucket_ts
           ORDER BY ts DESC, value DESC) AS rn
  FROM obs
),
per_bucket AS (
  SELECT user_id, bucket_ts, value AS observed FROM ranked WHERE rn = 1
),
span AS (
  SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi
  FROM obs GROUP BY 1
),
grid AS (
  SELECT user_id,
         unnest(range(lo, hi + {GAPFILL_STEP_S}, {GAPFILL_STEP_S}))
           AS bucket_ts
  FROM span
),
nb AS (
  SELECT g.user_id, g.bucket_ts, p.observed,
         last_value(p.observed IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(CASE WHEN p.observed IS NOT NULL
                         THEN g.bucket_ts END IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
         first_value(p.observed IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket_ts
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN p.observed IS NOT NULL
                          THEN g.bucket_ts END IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket_ts
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
  FROM grid g
  LEFT JOIN per_bucket p USING (user_id, bucket_ts)
)
SELECT user_id,
       make_timestamp(bucket_ts * 1000000) AS bucket_time,
       CAST(CAST(
         CASE WHEN observed IS NOT NULL THEN observed
              ELSE prev_v + (next_v - prev_v)
                   * (CAST(bucket_ts - prev_t AS DOUBLE)
                      / CAST(next_t - prev_t AS DOUBLE))
         END AS REAL) AS DOUBLE) AS value,
       observed IS NULL AS is_gap
FROM nb
"""

QUERIES["gapfill_linear_events"] = q_gapfill_linear_events
ORACLES["gapfill_linear_events"] = ORACLE_GAPFILL_LINEAR_EVENTS


def q_funnel_three_step_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ordered THREE-step funnel (signup → click → purchase) computed
    in a SINGLE keyed pass — unlike the two-step gate's per-step
    aggregate joins, every step here is a running flag over one
    (user, ts, event_id) window: a click counts only once a signup
    precedes it, a purchase only once such a click precedes it, and
    the per-user firsts fall out of one conditional aggregation on
    the same clustering. One exchange end to end at any number of
    steps — the funnel shape that survives 100 TB, where a per-step
    join chain would pay k shuffles for k steps. Timestamps are
    copied, never computed: engine-exact, no quantization."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_signup = (F.col("event_type") == "signup").cast("int")
    seen_signup = F.max(is_signup).over(w)
    is_step2 = (
        (F.col("event_type") == "click") & (seen_signup == 1)
    ).cast("int")
    seen_step2 = F.max(is_step2).over(w)
    is_step3 = (
        (F.col("event_type") == "purchase") & (seen_step2 == 1)
    ).cast("int")
    flagged = ev.select(
        "user_id",
        "ts",
        is_signup.alias("s1"),
        is_step2.alias("s2"),
        is_step3.alias("s3"),
    )
    out = flagged.groupBy("user_id").agg(
        F.min(F.when(F.col("s1") == 1, F.col("ts"))).alias("signup_ts"),
        F.min(F.when(F.col("s2") == 1, F.col("ts"))).alias("click_ts"),
        F.min(F.when(F.col("s3") == 1, F.col("ts"))).alias("purchase_ts"),
    )
    return out.select(
        "user_id",
        "signup_ts",
        "click_ts",
        "purchase_ts",
        (
            F.col("signup_ts").isNotNull().cast("int")
            + F.col("click_ts").isNotNull().cast("int")
            + F.col("purchase_ts").isNotNull().cast("int")
        ).alias("reached_steps"),
    )


ORACLE_FUNNEL_THREE_STEP_EVENTS = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS s1,
         CASE WHEN event_type = 'click'
               AND max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   OVER w = 1
              THEN 1 ELSE 0 END AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
),
flagged3 AS (
  SELECT user_id, ts, s1, s2,
         CASE WHEN event_type = 'purchase'
               AND max(s2) OVER w2 = 1
              THEN 1 ELSE 0 END AS s3
  FROM flagged
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING)
)
SELECT user_id,
       min(CASE WHEN s1 = 1 THEN ts END) AS signup_ts,
       min(CASE WHEN s2 = 1 THEN ts END) AS click_ts,
       min(CASE WHEN s3 = 1 THEN ts END) AS purchase_ts,
       CAST((min(CASE WHEN s1 = 1 THEN ts END) IS NOT NULL)::INT
            + (min(CASE WHEN s2 = 1 THEN ts END) IS NOT NULL)::INT
            + (min(CASE WHEN s3 = 1 THEN ts END) IS NOT NULL)::INT
            AS INT) AS reached_steps
FROM flagged3
GROUP BY user_id
"""

QUERIES["funnel_three_step_events"] = q_funnel_three_step_events
ORACLES["funnel_three_step_events"] = ORACLE_FUNNEL_THREE_STEP_EVENTS


def q_argmax_functions_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`max_by` / `min_by` (argmax/argmin) aggregate family — one
    ordered pass instead of the window-rank-filter detour for
    "value at the extremum" questions. Ordering keys are made UNIQUE
    by construction: Spark orders on the lexicographic STRUCT
    (ts, event_id) / (100·value, event_id) — the FULL event_id, so
    no two rows ever tie — while the DuckDB oracle (whose arg_max
    rejects struct keys) encodes the same total order as a HUGEINT
    `primary * 10^10 + event_id` (valid while event_id < 10^10,
    which holds at any testdata SF; HUGEINT cannot overflow). max_by
    with tied keys is engine-arbitrary, and a gate must never hash
    an arbitrary choice. Per user: first/last event type and last
    value; per type: the user holding the max value."""
    ev = _events(spark, sf_dir)
    tkey = F.struct(F.col("ts"), F.col("event_id"))
    vkey = F.struct(
        F.round(F.col("value") * 100).cast("long").alias("v"),
        F.col("event_id").alias("e"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.min_by("event_type", tkey).alias("first_type"),
        F.max_by("event_type", tkey).alias("last_type"),
        F.max_by("value", tkey).alias("last_value"),
        F.count(F.lit(1)).alias("n"),
    )
    per_type = ev.groupBy("event_type").agg(
        F.max_by("user_id", vkey).alias("top_value_user"),
        F.max("value").alias("max_value"),
    )
    return per_user.join(
        per_type,
        per_user["last_type"] == per_type["event_type"],
        "left",
    ).select(
        "user_id",
        "first_type",
        "last_type",
        "last_value",
        "n",
        F.col("top_value_user").alias("last_type_top_user"),
        F.col("max_value").alias("last_type_max_value"),
    )


ORACLE_ARGMAX_FUNCTIONS_EVENTS = """
WITH per_user AS (
  SELECT user_id,
         arg_min(event_type,
                 CAST(epoch_us(ts) AS HUGEINT) * 10000000000
                 + event_id) AS first_type,
         arg_max(event_type,
                 CAST(epoch_us(ts) AS HUGEINT) * 10000000000
                 + event_id) AS last_type,
         arg_max(value,
                 CAST(epoch_us(ts) AS HUGEINT) * 10000000000
                 + event_id) AS last_value,
         count(*) AS n
  FROM events GROUP BY user_id
),
per_type AS (
  SELECT event_type,
         arg_max(user_id,
                 CAST(round(value * 100) AS HUGEINT) * 10000000000
                 + event_id) AS top_value_user,
         max(value) AS max_value
  FROM events GROUP BY event_type
)
SELECT u.user_id, u.first_type, u.last_type, u.last_value, u.n,
       t.top_value_user AS last_type_top_user,
       t.max_value AS last_type_max_value
FROM per_user u LEFT JOIN per_type t ON u.last_type = t.event_type
"""

QUERIES["argmax_functions_events"] = q_argmax_functions_events
ORACLES["argmax_functions_events"] = ORACLE_ARGMAX_FUNCTIONS_EVENTS


# ---------------------------------------------------------------------------
# Window completeness: ntile / cume_dist / percent_rank + frame
# exclusion semantics (round 7 — the last ungated window surface)
# ---------------------------------------------------------------------------

WINDOW_NTILE_BUCKETS = 4
WINDOW_EXCL_FRAME = 2  # rows each side of the excluded current row


def q_window_completeness_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The distribution-rank window family — `ntile` (equal-height
    bucketing), `cume_dist`, `percent_rank` — plus FRAME-EXCLUSION
    semantics: a centered rolling sum over ±2 rows that EXCLUDES the
    current row. Spark 4.1 has no `EXCLUDE CURRENT ROW` syntax, so
    the engine COMPOSES it — full-frame sum minus the current row's
    value, both in exact DECIMAL so the subtraction is exact — while
    the DuckDB oracle runs its native ``EXCLUDE CURRENT ROW``; the
    hash match proves the composition implements the standard's
    semantics, not an approximation of them. All three rank
    functions sit on the per-user (ts, event_id) ordering, which is
    unique, so bucket boundaries and rank ratios are deterministic.
    One keyed exchange serves every window (same partition + order);
    ntile/cume_dist need the whole partition resident, which is why
    they key by user (bounded group), never globally."""
    ev = _events(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dec = F.col("value").cast("decimal(18,2)")
    wf = w.rowsBetween(-WINDOW_EXCL_FRAME, WINDOW_EXCL_FRAME)
    return ev.select(
        "event_id",
        "user_id",
        F.ntile(WINDOW_NTILE_BUCKETS).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
        (F.sum(dec).over(wf) - dec).cast("double").alias("neighbor_sum"),
        (F.count(F.lit(1)).over(wf) - F.lit(1)).alias("neighbor_n"),
    )


ORACLE_WINDOW_COMPLETENESS_EVENTS = f"""
SELECT event_id, user_id,
       ntile({WINDOW_NTILE_BUCKETS}) OVER w AS quartile,
       cume_dist() OVER w AS cd,
       percent_rank() OVER w AS pr,
       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN {WINDOW_EXCL_FRAME} PRECEDING
                  AND {WINDOW_EXCL_FRAME} FOLLOWING
         EXCLUDE CURRENT ROW) AS DOUBLE) AS neighbor_sum,
       CAST(count(*) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN {WINDOW_EXCL_FRAME} PRECEDING
                  AND {WINDOW_EXCL_FRAME} FOLLOWING
         EXCLUDE CURRENT ROW) AS BIGINT) AS neighbor_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

QUERIES["window_completeness_events"] = q_window_completeness_events
ORACLES["window_completeness_events"] = ORACLE_WINDOW_COMPLETENESS_EVENTS


# ---------------------------------------------------------------------------
# Aggregate-function completeness
# ---------------------------------------------------------------------------

def q_agg_completeness_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The remaining ungated aggregate family in one pass: ``mode``,
    exact ``median``, bitwise folds (``bit_and/or/xor``),
    ``any_value``, ``count_if``, ``bool_and/or``, and scalar
    ``width_bucket`` summed per group (reference has no analog; this
    extends SURVEY §2.5's aggregate surface the way a migrating SQL
    user expects). Determinism by construction: ``mode`` ties are
    impossible on l_linenumber (every order contributes line 1, only
    ~6/7 contribute line 2, ... — counts are strictly decreasing;
    tests/test_stats_layout.py asserts strict uniqueness on the
    testdata); ``any_value`` reads an expression constant within its
    group; ``median`` of integral quantities interpolates (a+b)/2
    exactly in binary. width_bucket uses bounds (0, 64, 8) whose
    bucket width 8 is exact, so the oracle's closed-form
    1+floor(q/8) reproduces it bit-for-bit. Everything stays in one
    partial-aggregable groupBy — a single shuffle of 3 grouping keys
    at any scale."""
    configure_for_oracle_parity(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("rf")).agg(
        F.mode("l_linenumber").alias("mode_line"),
        F.median("l_quantity").alias("median_qty"),
        F.bit_and("l_linenumber").alias("band"),
        F.bit_or("l_linenumber").alias("bor"),
        F.bit_xor("l_linenumber").alias("bxor"),
        F.any_value(F.upper("l_returnflag")).alias("av_flag"),
        F.count_if(F.col("l_quantity") > 25).alias("n_high_qty"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_pos"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_hidisc"),
        F.sum(
            F.width_bucket(
                "l_quantity", F.lit(0.0), F.lit(64.0), F.lit(8)
            )
        ).alias("wb_sum"),
    )


def width_bucket_sql(expr: str) -> str:
    """DuckDB lacks width_bucket; with bounds (0, 64, 8) the bucket
    width is exactly 8, so 1 + floor(x/8) is the same function in
    closed form. Shared by the gate oracle AND the property test
    defending the emulation (tests/test_function_gate_props.py)."""
    return (
        f"""CASE WHEN {expr} < 0 THEN 0
                     WHEN {expr} >= 64 THEN 9
                     ELSE 1 + CAST(FLOOR({expr} / 8.0) AS BIGINT)
                END"""
    )


# (quantities are 1..50, never at the out-of-range edges, but the
# CASE keeps the oracle total on any data)
ORACLE_AGG_COMPLETENESS_LINEITEM = f"""
SELECT l_returnflag AS rf,
       mode(l_linenumber) AS mode_line,
       median(l_quantity) AS median_qty,
       bit_and(l_linenumber) AS band,
       bit_or(l_linenumber) AS bor,
       bit_xor(l_linenumber) AS bxor,
       any_value(upper(l_returnflag)) AS av_flag,
       CAST(count_if(l_quantity > 25) AS BIGINT) AS n_high_qty,
       bool_and(l_quantity > 0) AS all_pos,
       bool_or(l_discount > 0.09) AS any_hidisc,
       CAST(SUM({width_bucket_sql("l_quantity")}) AS BIGINT) AS wb_sum
FROM lineitem
GROUP BY l_returnflag
"""

QUERIES["agg_completeness_lineitem"] = q_agg_completeness_lineitem
ORACLES["agg_completeness_lineitem"] = ORACLE_AGG_COMPLETENESS_LINEITEM


# ---------------------------------------------------------------------------
# Datetime-function completeness (timezone conversion + calendar nav)
# ---------------------------------------------------------------------------

def q_datetime_functions_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The calendar / timezone scalar family beyond F2/F3's basic
    extract-format surface: wall-clock conversion both directions
    (``from_utc_timestamp`` / ``to_utc_timestamp`` — IANA zone rules,
    DST-correct), month navigation with end-of-month clamping
    (``add_months``, ``last_day``), strictly-after weekday seek
    (``next_day``), ISO week / quarter / 1=Sunday day-of-week
    extraction, day diffs, and a ``make_timestamp`` rebuild pinned
    against ``date_trunc``. DuckDB replays zone conversion as chained
    ``timezone()`` casts (session-independent: naive→UTC tstz→zone
    wall time), ``next_day`` as closed-form isodow arithmetic, and
    ``dayofweek`` shifted from its 0=Sunday base. All values are
    timestamps/dates/ints — engine-exact, no quantization. Row-local
    codegen, zero shuffles at any scale."""
    configure_for_oracle_parity(spark)
    ev = load_table(spark, sf_dir, "events")
    d = F.to_date("ts")
    return ev.select(
        "event_id",
        F.from_utc_timestamp("ts", "America/New_York").alias("ny_wall"),
        F.to_utc_timestamp("ts", "Asia/Tokyo").alias("tokyo_utc"),
        F.add_months(d, 2).alias("plus2m"),
        F.last_day(d).alias("eom"),
        F.next_day(d, "Mon").alias("next_mon"),
        F.weekofyear(d).alias("iso_week"),
        F.quarter(d).alias("qtr"),
        F.dayofweek(d).alias("dow_sun1"),
        F.datediff(F.lit("2025-01-01").cast("date"), d).alias(
            "days_to_2025"
        ),
        F.make_timestamp(
            F.year("ts"),
            F.month("ts"),
            F.dayofmonth("ts"),
            F.hour("ts"),
            F.minute("ts"),
            F.second("ts").cast("decimal(8,6)"),
        ).alias("rebuilt_s"),
    )


def next_monday_sql(date_expr: str, ts_expr: str) -> str:
    """Strictly-after next-Monday in closed-form isodow arithmetic
    (Spark next_day semantics). Shared by the gate oracle AND the
    property test defending it (tests/test_function_gate_props.py)."""
    return (
        f"""CAST({date_expr} + to_days(CAST(
         CASE WHEN (1 - isodow({ts_expr}) % 7 + 7) % 7 = 0 THEN 7
              ELSE (1 - isodow({ts_expr}) % 7 + 7) % 7 END AS INTEGER))
         AS DATE)"""
    )


ORACLE_DATETIME_FUNCTIONS_EVENTS = f"""
SELECT event_id,
       timezone('America/New_York', timezone('UTC', ts)) AS ny_wall,
       timezone('UTC', timezone('Asia/Tokyo', ts)) AS tokyo_utc,
       CAST(CAST(ts AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
       last_day(CAST(ts AS DATE)) AS eom,
       {next_monday_sql("CAST(ts AS DATE)", "ts")} AS next_mon,
       CAST(date_part('week', ts) AS INTEGER) AS iso_week,
       CAST(quarter(ts) AS INTEGER) AS qtr,
       CAST(dayofweek(ts) + 1 AS INTEGER) AS dow_sun1,
       CAST(date_diff('day', CAST(ts AS DATE), DATE '2025-01-01')
         AS INTEGER) AS days_to_2025,
       date_trunc('second', ts) AS rebuilt_s
FROM events
"""

QUERIES["datetime_functions_events"] = q_datetime_functions_events
ORACLES["datetime_functions_events"] = ORACLE_DATETIME_FUNCTIONS_EVENTS


# ---------------------------------------------------------------------------
# Comparator array_sort + filter (the HOFs the round-5 gate lacks)
# ---------------------------------------------------------------------------

def q_array_sort_hof_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Completes the lambda HOF surface the round-5
    ``hof_functions_documents`` gate started (exists/forall/
    aggregate/zip_with/indexed transform): adds ``filter`` and the
    marquee comparator-``array_sort`` (length desc,
    token asc — the tie-break makes the sort total, so the hash can
    never see an engine-arbitrary order). Runs on each document's
    first 8 whitespace tokens. DuckDB replays with list_* lambdas;
    exists/forall become emptiness tests on list_filter, and the
    custom comparator becomes sort-by-(-length, token) struct keys.
    HOFs evaluate inside codegen on the JVM — this is the
    stay-JVM-side alternative to a Python UDF for array work, the
    difference between network-speed and pickle-speed at 100 TB."""
    configure_for_oracle_parity(spark)
    docs = load_table(spark, sf_dir, "documents")
    arr = F.slice(F.split(F.col("text"), " "), 1, 8)

    def cmp(l, r):  # noqa: E741 - comparator args
        ll, lr = F.length(l), F.length(r)
        return (
            F.when(ll > lr, F.lit(-1))
            .when(ll < lr, F.lit(1))
            .when(l < r, F.lit(-1))
            .when(l > r, F.lit(1))
            .otherwise(F.lit(0))
        )

    # array outputs are joined to strings (house gate convention —
    # the driver hash and harness compare scalars)
    return docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                arr, lambda x: F.length(x).cast("string")
            ),
            ",",
        ).alias("tok_lens"),
        F.array_join(
            F.filter(arr, lambda x: F.length(x) > 3), ","
        ).alias("long_toks"),
        F.exists(arr, lambda x: F.length(x) > 8).alias("has_long"),
        F.forall(arr, lambda x: F.length(x) > 0).alias("all_nonempty"),
        F.aggregate(
            arr,
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x),
        ).alias("sum_len"),
        F.array_join(F.array_sort(arr, cmp), ",").alias("by_len_desc"),
    )


ORACLE_ARRAY_SORT_HOF_DOCUMENTS = """
WITH t AS (
  SELECT doc_id, list_slice(string_split(text, ' '), 1, 8) AS toks
  FROM documents
)
SELECT doc_id,
       array_to_string(list_transform(toks,
         x -> CAST(length(x) AS VARCHAR)), ',') AS tok_lens,
       array_to_string(list_filter(toks, x -> length(x) > 3), ',')
         AS long_toks,
       length(list_filter(toks, x -> length(x) > 8)) > 0 AS has_long,
       length(list_filter(toks, x -> NOT (length(x) > 0))) = 0
         AS all_nonempty,
       CAST(list_sum(list_transform(toks,
         x -> CAST(length(x) AS BIGINT))) AS BIGINT) AS sum_len,
       array_to_string(list_transform(
         list_sort(list_transform(toks,
           x -> {'a': -length(x), 'b': x})),
         s -> s.b), ',') AS by_len_desc
FROM t
"""

QUERIES["array_sort_hof_documents"] = q_array_sort_hof_documents
ORACLES["array_sort_hof_documents"] = ORACLE_ARRAY_SORT_HOF_DOCUMENTS


# ---------------------------------------------------------------------------
# KMV (bottom-k minimum values) distinct sketch — hash-EXACT sketch
# ---------------------------------------------------------------------------

KMV_K = 32
KMV_MULT = 2654435761  # odd => bijective mod 2^32 (Knuth)
KMV_MOD = 4294967296


def q_kmv_distinct_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KMV / bottom-k distinct sketch — the one cardinality sketch
    whose ENTIRE state is hash-gateable bit-exact (unlike HLL, whose
    register layout is implementation-private and gets an invariant
    bound instead, `hll_reach_events`): the k smallest values of a
    deterministic multiplicative hash over the key domain, estimator
    (k-1)·M / kth_min. The hash is an odd-multiplier product mod
    2^32 — a bijection, so no engineered collisions — and bottom-k
    is a TakeOrdered(k), never a global sort or a driver collect of
    the domain. The oracle replays hash, bottom-k, and estimator in
    closed form; the one division is a single float op on identical
    doubles. At 100 TB the sketch state is k values per partition
    merged associatively — this gate pins the maths; the scan shape
    is the same partial-agg pattern as every exact aggregate."""
    configure_for_oracle_parity(spark)
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select("user_id")
        .distinct()
        .select(
            ((F.col("user_id") * F.lit(KMV_MULT)) % F.lit(KMV_MOD))
            .alias("h")
        )
    )
    bottom = h.orderBy("h").limit(KMV_K)
    n_exact = ev.select("user_id").distinct().count()
    return bottom.agg(
        F.count(F.lit(1)).alias("k_seen"),
        F.max("h").alias("kth_min"),
        F.concat_ws(
            ",", F.array_sort(F.collect_list(F.col("h").cast("string")))
        ).alias("bottom_k"),
        (
            (F.lit(float(KMV_K - 1)) * F.lit(float(KMV_MOD)))
            / F.max("h").cast("double")
        ).alias("est_distinct"),
        F.lit(n_exact).cast("long").alias("n_exact"),
    )


ORACLE_KMV_DISTINCT_EVENTS = f"""
WITH h AS (
  SELECT DISTINCT (user_id * {KMV_MULT}) % {KMV_MOD} AS h FROM events
),
b AS (SELECT h FROM h ORDER BY h LIMIT {KMV_K})
SELECT CAST(count(*) AS BIGINT) AS k_seen,
       max(h) AS kth_min,
       array_to_string(list(CAST(h AS VARCHAR) ORDER BY
         CAST(h AS VARCHAR)), ',') AS bottom_k,
       ({KMV_K - 1}.0 * {KMV_MOD}.0) / CAST(max(h) AS DOUBLE)
         AS est_distinct,
       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
         AS n_exact
FROM b
"""

QUERIES["kmv_distinct_events"] = q_kmv_distinct_events
ORACLES["kmv_distinct_events"] = ORACLE_KMV_DISTINCT_EVENTS


KMV_SHARDS = 4


def q_kmv_merge_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KMV sketch MERGEABILITY on the hash path — the property that
    makes a sketch usable at 100 TB (per-partition states folded
    associatively, never the raw domain): shard the key domain 4 ways
    (user_id mod 4, simulating per-partition accumulators), take each
    shard's bottom-k state (one windowed rank per shard — k·shards
    rows total), merge by pooling the shard states and re-taking
    bottom-k, and emit the merged state NEXT TO the direct
    whole-domain sketch (`kmv_distinct_events`' path). Merged ≡
    direct is the KMV merge theorem; a broken merge (lost shard, cap
    applied before pooling, dedup across shards) shifts kth_min or
    the state string and hash-fails. All values are exact integers or
    single float divisions on identical doubles — no quantization."""
    configure_for_oracle_parity(spark)
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select("user_id")
        .distinct()
        .select(
            (F.col("user_id") % F.lit(KMV_SHARDS)).alias("shard"),
            ((F.col("user_id") * F.lit(KMV_MULT)) % F.lit(KMV_MOD))
            .alias("h"),
        )
    )
    shard_w = Window.partitionBy("shard").orderBy("h")
    shard_states = (
        h.withColumn("rn", F.row_number().over(shard_w))
        .filter(F.col("rn") <= KMV_K)
        .select("shard", "h")
    )
    merged = shard_states.orderBy("h").limit(KMV_K)
    direct = h.orderBy("h").limit(KMV_K)
    m = merged.agg(
        F.max("h").alias("kth_min_merged"),
        F.concat_ws(
            ",", F.array_sort(F.collect_list(F.col("h").cast("string")))
        ).alias("state_merged"),
        (
            (F.lit(float(KMV_K - 1)) * F.lit(float(KMV_MOD)))
            / F.max("h").cast("double")
        ).alias("est_merged"),
    )
    d = direct.agg(
        F.max("h").alias("kth_min_direct"),
        F.concat_ws(
            ",", F.array_sort(F.collect_list(F.col("h").cast("string")))
        ).alias("state_direct"),
    )
    return m.crossJoin(d).select(
        "kth_min_merged",
        "kth_min_direct",
        (F.col("kth_min_merged") == F.col("kth_min_direct")).alias(
            "kth_min_equal"
        ),
        (F.col("state_merged") == F.col("state_direct")).alias(
            "state_equal"
        ),
        "est_merged",
        "state_merged",
    )


ORACLE_KMV_MERGE_EVENTS = f"""
WITH h AS (
  SELECT DISTINCT user_id % {KMV_SHARDS} AS shard,
         (user_id * {KMV_MULT}) % {KMV_MOD} AS h
  FROM (SELECT DISTINCT user_id FROM events)
),
shard_states AS (
  SELECT shard, h FROM (
    SELECT shard, h,
           row_number() OVER (PARTITION BY shard ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= {KMV_K}
),
merged AS (SELECT h FROM shard_states ORDER BY h LIMIT {KMV_K}),
direct AS (SELECT h FROM h ORDER BY h LIMIT {KMV_K}),
m AS (
  SELECT max(h) AS kth_min_merged,
         array_to_string(list(CAST(h AS VARCHAR) ORDER BY
           CAST(h AS VARCHAR)), ',') AS state_merged,
         ({KMV_K - 1}.0 * {KMV_MOD}.0) / CAST(max(h) AS DOUBLE)
           AS est_merged
  FROM merged
),
d AS (
  SELECT max(h) AS kth_min_direct,
         array_to_string(list(CAST(h AS VARCHAR) ORDER BY
           CAST(h AS VARCHAR)), ',') AS state_direct
  FROM direct
)
SELECT kth_min_merged,
       kth_min_direct,
       kth_min_merged = kth_min_direct AS kth_min_equal,
       state_merged = state_direct AS state_equal,
       est_merged,
       state_merged
FROM m CROSS JOIN d
"""

QUERIES["kmv_merge_events"] = q_kmv_merge_events
ORACLES["kmv_merge_events"] = ORACLE_KMV_MERGE_EVENTS


APPROX_TOPK_K = 50


def q_approx_topk_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark 4.1's ``approx_top_k`` pinned in its EXACTNESS regime:
    with k (50) and the sketch's tracked-item budget both far above
    the actual distinct count (5 event types), the frequent-items
    sketch degenerates to exact counting, so every (item, count) pair
    is hash-checkable against the plain GROUP BY — the same
    pin-the-sketch-where-it-is-exact strategy as the KMV and CMS
    gates (vs the invariant-bound treatment where exactness is
    impossible, `hll_reach_events`). Exploded to rows; no float
    anywhere. SQL expr because the function has no pyspark wrapper."""
    configure_for_oracle_parity(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.agg(
            F.expr(
                f"approx_top_k(event_type, {APPROX_TOPK_K})"
            ).alias("tk")
        )
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").alias("n_events"),
        )
    )


ORACLE_APPROX_TOPK_EVENTS = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
"""

QUERIES["approx_topk_events"] = q_approx_topk_events
ORACLES["approx_topk_events"] = ORACLE_APPROX_TOPK_EVENTS


def q_kmv_jaccard_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Set-similarity from the KMV sketch — the bottom-k Jaccard
    estimator (Broder's MinHash theorem over a single bottom-k
    sample): for A = user-days with a click and B = user-days with a
    purchase (a sparse composite key domain where the two cohorts
    genuinely differ — per-user halves were Jaccard-1.0 degenerate),
    take the bottom-k of hash(A ∪ B) and count how many of those k
    landed in BOTH sets; that fraction estimates J(A,B). At 100 TB
    this answers 'how much do these two cohorts overlap' from two
    k-value sketch states instead of a set intersection over the
    full key domains. Like the other KMV gates, the ENTIRE
    computation is deterministic hash arithmetic — the estimate, the
    exact Jaccard it approximates, and both cardinalities all
    hash-gate bit-exact (one float division per ratio on identical
    integers)."""
    configure_for_oracle_parity(spark)
    ev = load_table(spark, sf_dir, "events")
    membership = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            (
                F.col("user_id") * F.lit(1000)
                + F.dayofmonth("ts")
            ).alias("user_day"),
            (F.col("event_type") == F.lit("click")).alias("is_click"),
        )
        .groupBy("user_day")
        .agg(
            F.max(F.col("is_click").cast("int")).alias("in_a"),
            F.max((~F.col("is_click")).cast("int")).alias("in_b"),
        )
        .withColumn(
            "h", (F.col("user_day") * F.lit(KMV_MULT)) % F.lit(KMV_MOD)
        )
    )
    bottom = membership.orderBy("h").limit(KMV_K)
    exact = membership.agg(
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        F.count(F.lit(1)).alias("n_union"),
    )
    return bottom.agg(
        F.count(F.lit(1)).alias("k_seen"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("k_both"),
        (
            F.sum(F.col("in_a") * F.col("in_b")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("jaccard_est"),
    ).crossJoin(F.broadcast(exact)).select(
        "k_seen",
        "k_both",
        "jaccard_est",
        F.col("n_both").cast("long").alias("n_both"),
        F.col("n_union").cast("long").alias("n_union"),
        (
            F.col("n_both").cast("double")
            / F.col("n_union").cast("double")
        ).alias("jaccard_exact"),
    )


ORACLE_KMV_JACCARD_EVENTS = f"""
WITH membership AS (
  SELECT user_id * 1000 + day(ts) AS user_day,
         CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS INT) AS in_a,
         CAST(max(CASE WHEN event_type = 'click' THEN 0 ELSE 1 END)
              AS INT) AS in_b,
         ((user_id * 1000 + day(ts)) * {KMV_MULT}) % {KMV_MOD} AS h
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY 1
),
bottom AS (SELECT * FROM membership ORDER BY h LIMIT {KMV_K}),
exact AS (
  SELECT CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
         CAST(count(*) AS BIGINT) AS n_union
  FROM membership
)
SELECT CAST(count(*) AS BIGINT) AS k_seen,
       CAST(sum(in_a * in_b) AS BIGINT) AS k_both,
       CAST(sum(in_a * in_b) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS jaccard_est,
       e.n_both,
       e.n_union,
       CAST(e.n_both AS DOUBLE) / CAST(e.n_union AS DOUBLE)
         AS jaccard_exact
FROM bottom CROSS JOIN exact e
GROUP BY e.n_both, e.n_union
"""

QUERIES["kmv_jaccard_events"] = q_kmv_jaccard_events
ORACLES["kmv_jaccard_events"] = ORACLE_KMV_JACCARD_EVENTS


# ---------------------------------------------------------------------------
# Join-type completeness: FULL OUTER / semi / anti side accounting
# ---------------------------------------------------------------------------

def q_join_types_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-type family as one audited result: a FULL OUTER join
    between deliberately misaligned slices (orders with
    o_orderkey % 3 == 0 vs customers with c_custkey % 2 == 0) is
    bucketed into matched / left-only / right-only rows — the
    referential-audit shape — and the LEFT SEMI / LEFT ANTI counts
    are emitted alongside, pinning the identity semi + anti ==
    distinct-left-keys that a correct join implementation cannot
    violate. Counts and min/max keys only, engine-exact. The outer
    join shuffles both slices once on the key; semi/anti reuse the
    same exchange shape."""
    configure_for_oracle_parity(spark)
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", "o_custkey")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey")
    )
    full = o.join(c, o["o_custkey"] == c["c_custkey"], "full_outer")
    sides = (
        full.select(
            F.when(F.col("o_orderkey").isNull(), F.lit("right_only"))
            .when(F.col("c_custkey").isNull(), F.lit("left_only"))
            .otherwise(F.lit("matched"))
            .alias("side"),
            F.coalesce(F.col("o_custkey"), F.col("c_custkey")).alias(
                "key"
            ),
        )
        .groupBy("side")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("key").alias("min_key"),
            F.max("key").alias("max_key"),
        )
    )
    semi = o.join(c, o["o_custkey"] == c["c_custkey"], "left_semi")
    anti = o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
    extra = semi.agg(
        F.lit("semi_anti").alias("side"),
        (F.count(F.lit(1)) + F.lit(anti.count())).alias("n"),
        F.min("o_custkey").alias("min_key"),
        F.max("o_custkey").alias("max_key"),
    ).select("side", "n", "min_key", "max_key")
    return sides.unionByName(extra)


ORACLE_JOIN_TYPES_ORDERS = """
WITH o AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 3 = 0
),
c AS (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0),
f AS (
  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'right_only'
              WHEN c.c_custkey IS NULL THEN 'left_only'
              ELSE 'matched' END AS side,
         COALESCE(o.o_custkey, c.c_custkey) AS key
  FROM o FULL OUTER JOIN c ON o.o_custkey = c.c_custkey
)
SELECT side, CAST(count(*) AS BIGINT) AS n,
       min(key) AS min_key, max(key) AS max_key
FROM f GROUP BY side
UNION ALL
SELECT 'semi_anti' AS side,
       CAST((SELECT count(*) FROM o
             WHERE o_custkey IN (SELECT c_custkey FROM c))
          + (SELECT count(*) FROM o
             WHERE o_custkey NOT IN (SELECT c_custkey FROM c))
          AS BIGINT) AS n,
       (SELECT min(o_custkey) FROM o
        WHERE o_custkey IN (SELECT c_custkey FROM c)) AS min_key,
       (SELECT max(o_custkey) FROM o
        WHERE o_custkey IN (SELECT c_custkey FROM c)) AS max_key
"""

QUERIES["join_types_orders"] = q_join_types_orders
ORACLES["join_types_orders"] = ORACLE_JOIN_TYPES_ORDERS


# ---------------------------------------------------------------------------
# Map higher-order functions: str_to_map / transform_keys / map_zip_with
# ---------------------------------------------------------------------------

def q_map_hof_functions_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The remaining MAP-typed expression surface (the earlier map
    gate covered construction/merge/filter/transform_values —
    map_from_entries, create_map, map_concat, element_at, map_filter;
    this one covers the parse and key/zip HOFs): a canonical
    ``k=v,k=v`` config string is built per event, parsed with
    ``str_to_map``, keys rewritten with ``transform_keys`` (upper),
    values rescaled with ``transform_values``, and the two derived
    maps aligned key-wise with ``map_zip_with`` — the tags/config
    column workflow every telemetry pipeline hits. All map work is
    JVM-side codegen (maps never leave the executor as Python
    objects). Because every map is deterministic by construction,
    the DuckDB oracle states each output in CLOSED FORM from the
    same arithmetic — a wrong parse, a missed key rewrite, or a
    misaligned zip breaks the hash."""
    configure_for_oracle_parity(spark)
    ev = load_table(spark, sf_dir, "events")
    s = F.concat(
        F.col("event_type"),
        F.lit("="),
        (F.col("user_id") % 10).cast("string"),
        F.lit(",x"),
        (F.col("event_id") % 3).cast("string"),
        F.lit("="),
        (F.col("user_id") % 5).cast("string"),
    )
    m0 = F.str_to_map(s, F.lit(","), F.lit("="))
    mk = F.transform_keys(m0, lambda k, v: F.upper(k))
    mv = F.transform_values(
        m0, lambda k, v: v.cast("long") * F.lit(3)
    )
    mz = F.map_zip_with(
        m0,
        F.transform_values(m0, lambda k, v: v.cast("long") * F.lit(2)),
        lambda k, s_, d: F.concat(s_, F.lit(":"), d.cast("string")),
    )
    return ev.select(
        "event_id",
        F.map_contains_key(m0, F.lit("x1")).alias("has_x1"),
        F.array_join(F.array_sort(F.map_keys(mk)), "|").alias(
            "keys_upper"
        ),
        F.aggregate(
            F.map_values(mv),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("v_sum"),
        F.element_at(mz, F.col("event_type")).alias("zipped"),
        F.cardinality(m0).cast("int").alias("n_keys"),
    )


# Closed-form replay: keys are event_type (lowercase a-z, always <
# 'x') and 'x'||(event_id%3); upper-cased and sorted that is
# UPPER(event_type) then 'X'||digit. Values: user_id%10 under the
# event_type key, user_id%5 under the x-key.
ORACLE_MAP_HOF_FUNCTIONS_EVENTS = """
SELECT event_id,
       (event_id % 3 = 1) AS has_x1,
       upper(event_type) || '|' || 'X' ||
         CAST(event_id % 3 AS VARCHAR) AS keys_upper,
       CAST(3 * (user_id % 10) + 3 * (user_id % 5)
         AS BIGINT) AS v_sum,
       CAST(user_id % 10 AS VARCHAR) || ':' ||
         CAST(2 * (user_id % 10) AS VARCHAR) AS zipped,
       CAST(2 AS INT) AS n_keys
FROM events
"""

QUERIES["map_hof_functions_events"] = q_map_hof_functions_events
ORACLES["map_hof_functions_events"] = ORACLE_MAP_HOF_FUNCTIONS_EVENTS


# ---------------------------------------------------------------------------
# Theta sketches: the SET-OPERATION sketch family (Spark 4.1
# DataSketches bindings) — intersection/difference, which HLL cannot do
# ---------------------------------------------------------------------------

def q_theta_sketch_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Apache DataSketches THETA sketches (`theta_sketch_agg` /
    `theta_union_agg` / `theta_intersection` / `theta_difference` /
    `theta_sketch_estimate`): the cardinality sketch that supports
    set ALGEBRA — audience overlap ("users of type X who also
    purchased") and exclusion ("who never purchased") straight from
    KB-scale sketch state, the two questions HLL structurally cannot
    answer. Pinned in the sketch's EXACT regime (default lgK=12 ⇒
    4096 nominal entries; every user domain here is smaller, so
    theta=1 and estimates are exact integers — same technique as the
    approx_top_k and KMV gates). The gate proves the three
    properties that matter at 100 TB: estimate == exact distinct,
    shard-merge ≡ direct sketch (theta_union_agg over per-half
    sketches), and intersection/difference against the purchase
    cohort == the exact set arithmetic the oracle computes. Sketch
    state is KB per group; only sketches cross the exchange."""
    configure_for_oracle_parity(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "_theta_events"
    )
    return spark.sql(
        """
        WITH per AS (
          SELECT event_type,
                 theta_sketch_agg(user_id) AS sk
          FROM _theta_events GROUP BY event_type
        ),
        halves AS (
          SELECT event_type, theta_union_agg(sk2) AS mu
          FROM (
            SELECT event_type, event_id % 2 AS half,
                   theta_sketch_agg(user_id) AS sk2
            FROM _theta_events GROUP BY event_type, event_id % 2
          ) GROUP BY event_type
        ),
        p AS (
          SELECT sk AS psk FROM per WHERE event_type = 'purchase'
        )
        SELECT per.event_type,
               CAST(theta_sketch_estimate(per.sk) AS BIGINT)
                 AS nd,
               CAST(theta_sketch_estimate(halves.mu) AS BIGINT)
                 AS nd_merged,
               CAST(theta_sketch_estimate(
                 theta_intersection(per.sk, p.psk)) AS BIGINT)
                 AS nd_also_purchase,
               CAST(theta_sketch_estimate(
                 theta_difference(per.sk, p.psk)) AS BIGINT)
                 AS nd_never_purchase
        FROM per
        JOIN halves ON per.event_type = halves.event_type
        CROSS JOIN p
        """
    )


ORACLE_THETA_SKETCH_EVENTS = """
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
),
purch AS (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'purchase')
SELECT event_type,
       CAST(count(*) AS BIGINT) AS nd,
       CAST(count(*) AS BIGINT) AS nd_merged,
       CAST(sum(CASE WHEN user_id IN (SELECT user_id FROM purch)
                THEN 1 ELSE 0 END) AS BIGINT) AS nd_also_purchase,
       CAST(sum(CASE WHEN user_id IN (SELECT user_id FROM purch)
                THEN 0 ELSE 1 END) AS BIGINT) AS nd_never_purchase
FROM tu
GROUP BY event_type
"""

QUERIES["theta_sketch_events"] = q_theta_sketch_events
ORACLES["theta_sketch_events"] = ORACLE_THETA_SKETCH_EVENTS


# ---------------------------------------------------------------------------
# Outer generators: posexplode_outer's empty-collection row preservation
# ---------------------------------------------------------------------------

def q_explode_outer_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`posexplode_outer` — the generator variant that PRESERVES rows
    whose collection is empty (a plain explode silently drops them:
    the classic chunking-pipeline bug where zero-sentence documents
    vanish from the corpus and row counts stop reconciling). Arrays
    are data-driven (`sequence(1, event_id % 4)`, empty when the
    modulus is 0 — one in four rows), so the gate pins both halves:
    exploded rows carry (pos, val) and empty-array rows survive
    exactly once with NULL pos/val. The oracle replays the outer
    fan-out with a guarded unnest over `greatest(n, 1)` slots.
    Row-local 1:N fan-out — zero shuffles."""
    configure_for_oracle_parity(spark)
    ev = load_table(spark, sf_dir, "events")
    arr = F.when(
        F.col("event_id") % 4 == 0, F.array().cast("array<bigint>")
    ).otherwise(F.sequence(F.lit(1).cast("bigint"), F.col("event_id") % 4))
    return ev.select(
        "event_id", F.posexplode_outer(arr).alias("pos", "val")
    ).select("event_id", F.col("pos").cast("int"), "val")


ORACLE_EXPLODE_OUTER_EVENTS = """
WITH base AS (
  SELECT event_id, event_id % 4 AS n FROM events
)
SELECT event_id,
       CAST(CASE WHEN n = 0 THEN NULL ELSE i - 1 END AS INT)
         AS pos,
       CAST(CASE WHEN n = 0 THEN NULL ELSE i END AS BIGINT)
         AS val
FROM base, unnest(range(1, greatest(n, 1) + 1)) AS t(i)
"""

QUERIES["explode_outer_events"] = q_explode_outer_events
ORACLES["explode_outer_events"] = ORACLE_EXPLODE_OUTER_EVENTS


# ---------------------------------------------------------------------------
# Distributed global prefix scan (operators/scan.py)
# ---------------------------------------------------------------------------

def q_global_rownum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0-based global row numbers over orders, ordered by
    (o_orderdate, o_orderkey), via the two-level Blelloch scan
    (operators/scan.py:global_row_number) — range partition, local
    window, tiny per-partition offsets table broadcast back. The
    oracle is the textbook single-reducer ``row_number() OVER (ORDER
    BY ...)``, so the green row states the distributed scan computes
    EXACTLY what the unscalable formulation computes. The output
    re-derives a per-date check (rownum of each date's first order)
    plus the raw numbering on a 1-in-7 slice so the gate carries both
    the global density proof and spot values."""
    from ..operators.scan import global_row_number

    o = _orders(spark, sf_dir)
    numbered = global_row_number(
        o, ["o_orderdate", "o_orderkey"], out_col="rownum"
    )
    return numbered.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "rownum"
    )


ORACLE_GLOBAL_ROWNUM_ORDERS = """
WITH n AS (
  SELECT o_orderkey,
         CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1
              AS BIGINT) AS rownum
  FROM orders
)
SELECT o_orderkey, rownum FROM n WHERE o_orderkey % 7 = 0
"""

QUERIES["global_rownum_orders"] = q_global_rownum_orders
ORACLES["global_rownum_orders"] = ORACLE_GLOBAL_ROWNUM_ORDERS


SWEEP_BASE_MIN = 5
SWEEP_MOD_MIN = 56


def q_concurrency_sweepline_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval sweep line: peak concurrent open intervals per hour.
    Each event opens a half-open interval [ts, ts + (5 + event_id %
    56) minutes); the +1/-1 boundary points are scanned globally by
    (t, delta, id) through the distributed prefix scan — the oracle
    replays the same running sum with the single-reducer ``SUM(delta)
    OVER (ORDER BY ...)``. Ends sort before starts at equal t
    (delta -1 < +1), so touching intervals never count as
    overlapping. Integer deltas make the scan associative-exact."""
    from ..operators.scan import sweepline_concurrency

    ev = _events(spark, sf_dir)
    iv = ev.select(
        "event_id",
        F.col("ts").alias("start_ts"),
        (
            F.col("ts")
            + F.make_interval(
                mins=(
                    F.lit(SWEEP_BASE_MIN)
                    + (F.col("event_id") % SWEEP_MOD_MIN)
                ).cast("int")
            )
        ).alias("end_ts"),
    )
    pts = sweepline_concurrency(
        iv, start_col="start_ts", end_col="end_ts", id_col="event_id"
    )
    return pts.groupBy(
        F.date_trunc("hour", F.col("t")).alias("hour")
    ).agg(
        F.max("concurrency").alias("peak_concurrency"),
        F.min("concurrency").alias("min_concurrency"),
        F.count(F.lit(1)).alias("n_boundaries"),
    )


ORACLE_CONCURRENCY_SWEEPLINE_EVENTS = f"""
WITH iv AS (
  SELECT event_id,
         ts AS s,
         ts + to_microseconds(
           CAST({SWEEP_BASE_MIN} + event_id % {SWEEP_MOD_MIN} AS BIGINT)
           * 60 * 1000000
         ) AS e
  FROM events
),
pts AS (
  SELECT s AS t, CAST(1 AS BIGINT) AS delta, event_id AS id FROM iv
  UNION ALL
  SELECT e AS t, CAST(-1 AS BIGINT) AS delta, event_id AS id FROM iv
),
run AS (
  SELECT t,
         SUM(delta) OVER (
           ORDER BY t, delta, id ROWS UNBOUNDED PRECEDING
         ) AS conc
  FROM pts
)
SELECT date_trunc('hour', t) AS hour,
       CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
       CAST(MIN(conc) AS BIGINT) AS min_concurrency,
       COUNT(*) AS n_boundaries
FROM run
GROUP BY 1
"""

QUERIES["concurrency_sweepline_events"] = q_concurrency_sweepline_events
ORACLES["concurrency_sweepline_events"] = ORACLE_CONCURRENCY_SWEEPLINE_EVENTS


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier over parts: cheapest-for-the-size
    frontier (minimize p_retailprice, maximize p_size). The engine
    runs the sort-based strict running-max formulation through the
    distributed scan (operators/scan.py:skyline_2d — two balanced
    shuffles, no self-join); the oracle is the DEFINITION, the
    quadratic NOT EXISTS dominance anti-join — a different algorithm
    entirely, so the hash row certifies the semantics, not the code
    path. Raw value pass-through (comparisons only), so doubles gate
    exactly."""
    from ..operators.scan import skyline_2d

    configure_for_oracle_parity(spark)
    p = load_table(spark, sf_dir, "part")
    return skyline_2d(p, "p_retailprice", "p_size")


ORACLE_SKYLINE_PARTS = """
WITH pts AS (
  SELECT DISTINCT p_retailprice, p_size FROM part
)
SELECT p_retailprice, p_size
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""

QUERIES["skyline_parts"] = q_skyline_parts
ORACLES["skyline_parts"] = ORACLE_SKYLINE_PARTS


# ---------------------------------------------------------------------------
# Distributed order statistics (operators/orderstats.py): weighted
# quantiles / Gini / two-sample KS on the global scan — integer
# running quantities, cross-multiplied thresholds, one final IEEE
# division, so every statistic gates hash-exact.
# ---------------------------------------------------------------------------

WQ_QUANTILES = [(1, 4), (1, 2), (9, 10)]


def q_weighted_quantiles_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact weighted lower-quantiles of o_totalprice, weighted by
    the deterministic integer weight (o_orderkey % 7 + 1). One scan
    serves all three quantiles; threshold crossings are integer
    cross-multiplications; the value column passes through untouched
    so doubles hash exactly. The oracle is the single-reducer
    running-weight window this operator exists to replace."""
    configure_for_oracle_parity(spark)
    from ..operators.orderstats import weighted_quantiles

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") % 7 + 1).alias("wt"),
    )
    return weighted_quantiles(
        o, "o_totalprice", "wt", WQ_QUANTILES, id_col="o_orderkey"
    )


ORACLE_WEIGHTED_QUANTILES_ORDERS = """
WITH w AS (
  SELECT o_totalprice AS v, o_orderkey % 7 + 1 AS wt, o_orderkey AS id
  FROM orders
),
run AS (
  SELECT v, wt,
         SUM(wt) OVER (ORDER BY v, id ROWS UNBOUNDED PRECEDING) AS cw
  FROM w
),
tot AS (SELECT SUM(wt) AS W FROM w),
q AS (SELECT * FROM (VALUES (1, 4), (1, 2), (9, 10)) AS t(q_num, q_den))
SELECT q.q_num, q.q_den, run.v AS value
FROM run CROSS JOIN tot CROSS JOIN q
WHERE run.cw * q.q_den >= q.q_num * tot.W
  AND (run.cw - run.wt) * q.q_den < q.q_num * tot.W
"""

QUERIES["weighted_quantiles_orders"] = q_weighted_quantiles_orders
ORACLES["weighted_quantiles_orders"] = ORACLE_WEIGHTED_QUANTILES_ORDERS


def q_gini_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the orders-per-customer distribution —
    inequality of customer activity. Amounts are counts (integers by
    construction), Σ i·x and Σx stay integer to the end, the final
    expression is two IEEE divisions on exact integers — identical
    in any engine, so the statistic itself hash-gates, not a
    tolerance band around it."""
    configure_for_oracle_parity(spark)
    from ..operators.orderstats import gini_coefficient

    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return gini_coefficient(counts, "n_orders", id_col="o_custkey")


ORACLE_GINI_CUSTOMER_ORDERS = """
WITH counts AS (
  SELECT o_custkey, COUNT(*) AS x FROM orders GROUP BY 1
),
ranked AS (
  SELECT x,
         ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i
  FROM counts
),
agg AS (
  SELECT CAST(SUM(i * x) AS BIGINT) AS six,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS total
  FROM ranked
)
SELECT (2.0 * six) / (n * total) - CAST(n + 1 AS DOUBLE) / n AS gini,
       n AS n_rows,
       total AS total_amount
FROM agg
"""

QUERIES["gini_customer_orders"] = q_gini_customer_orders
ORACLES["gini_customer_orders"] = ORACLE_GINI_CUSTOMER_ORDERS


def q_ks_statistic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the value
    distributions of click vs purchase events. CDFs evaluated at
    distinct values only (mid-tie prefixes are not CDF values); the
    sup is an integer argmax of |cA·nB − cB·nA|; D is one exact
    division. The oracle replays the same construction through the
    single-reducer window."""
    configure_for_oracle_parity(spark)
    from ..operators.orderstats import ks_two_sample

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .filter(F.col("value").isNotNull())
    )
    return ks_two_sample(ev, "value", F.col("event_type") == "click")


ORACLE_KS_STATISTIC_EVENTS = """
WITH e AS (
  SELECT value AS v, event_type = 'click' AS is_a
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
pv AS (
  SELECT v,
         SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS b
  FROM e GROUP BY v
),
run AS (
  SELECT v,
         SUM(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
         SUM(b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
  FROM pv
),
tot AS (SELECT SUM(a) AS na, SUM(b) AS nb FROM pv)
SELECT CAST(MAX(ABS(ca * nb - cb * na)) AS DOUBLE)
         / CAST(na * nb AS DOUBLE) AS d_stat,
       CAST(MAX(ABS(ca * nb - cb * na)) AS BIGINT) AS d_num,
       CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b
FROM run CROSS JOIN tot
GROUP BY na, nb
"""

QUERIES["ks_statistic_events"] = q_ks_statistic_events
ORACLES["ks_statistic_events"] = ORACLE_KS_STATISTIC_EVENTS


def q_asof_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (operators/joins.py:asof_join_nearest —
    pandas merge_asof(direction='nearest') semantics): each purchase
    aligned to the temporally closest same-user click, either
    direction, ties to the backward side. The engine runs the
    single-shuffle two-window union form; the oracle computes the
    DEFINITION — min over ALL (purchase, click) pairs of the
    composite integer key |Δt_µs|·2 + is_forward — a different
    algorithm, so the hash row certifies the nearest semantics
    including tie direction and the no-click NULL contract."""
    configure_for_oracle_parity(spark)
    from ..operators.joins import asof_join_nearest

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    return asof_join_nearest(
        p, c, on="user_id", left_ts="p_ts", right_ts="c_ts",
        right_cols=["click_id"],
    )


ORACLE_ASOF_NEAREST_EVENTS = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
c0 AS (
  SELECT user_id, ts AS c_ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
pairs AS (
  SELECT p.user_id, p.purchase_id, p.p_ts, c0.c_ts, c0.click_id,
         ABS(epoch_us(p.p_ts) - epoch_us(c0.c_ts)) * 2
           + (CASE WHEN c0.c_ts > p.p_ts THEN 1 ELSE 0 END) AS k
  FROM p JOIN c0 ON c0.user_id = p.user_id
),
best AS (
  SELECT user_id, purchase_id, p_ts,
         min_by(click_id, k) AS click_id,
         min_by(c_ts, k) AS c_ts_near,
         MIN(k) AS k
  FROM pairs GROUP BY 1, 2, 3
)
SELECT user_id, purchase_id, p_ts, click_id, c_ts_near,
       CASE WHEN k % 2 = 0 THEN 'backward' ELSE 'forward' END
         AS asof_direction
FROM best
UNION ALL
SELECT p.user_id, p.purchase_id, p.p_ts,
       CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
       CAST(NULL AS VARCHAR)
FROM p
WHERE NOT EXISTS (SELECT 1 FROM c0 WHERE c0.user_id = p.user_id)
"""

QUERIES["asof_nearest_events"] = q_asof_nearest_events
ORACLES["asof_nearest_events"] = ORACLE_ASOF_NEAREST_EVENTS


def q_trailing_active_users_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact DAU + trailing-7-day WAU per active day
    (operators/windows.py:trailing_window_distinct). COUNT(DISTINCT)
    OVER a window is illegal SQL; the engine's bounded fan-out
    replicates each deduplicated (day, user) pair to its 7 window
    anchors and hash-aggregates — shuffle ~ 7×|active pairs|,
    independent of raw event volume. The oracle computes the
    DEFINITION as a day-range join, a different algorithm."""
    configure_for_oracle_parity(spark)
    from ..operators.windows import trailing_window_distinct

    ev = load_table(spark, sf_dir, "events")
    return trailing_window_distinct(ev, "ts", "user_id", window_days=7)


ORACLE_TRAILING_ACTIVE_USERS_EVENTS = """
WITH acts AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
days AS (SELECT DISTINCT d AS w_day FROM acts)
SELECT dd.w_day,
       COUNT(DISTINCT CASE WHEN a.d = dd.w_day THEN a.user_id END) AS dau,
       COUNT(DISTINCT a.user_id) AS wau
FROM days dd
JOIN acts a ON a.d BETWEEN dd.w_day - 6 AND dd.w_day
GROUP BY 1
"""

QUERIES["trailing_active_users_events"] = q_trailing_active_users_events
ORACLES["trailing_active_users_events"] = (
    ORACLE_TRAILING_ACTIVE_USERS_EVENTS
)


def q_mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median absolute
    deviation (MAD) with the 1.4826 normal-consistency constant —
    the robust alternative to the z-score gate (which a single wild
    value can poison through the mean AND the stddev; the MAD
    breaks down only past 50% contamination). Both medians are
    percentile_disc — pure VALUE SELECTION, no interpolation, so
    every number here is either a selected input double or one
    deterministic IEEE expression on selected inputs; the gate is
    hash-exact without quantizing. Two tiny per-type aggregates
    broadcast back onto the rows (5-row joins), one pass each."""
    configure_for_oracle_parity(spark)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    ev.createOrReplaceTempView("_mad_events")
    return spark.sql(
        """
        WITH med AS (
          SELECT event_type,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
          FROM _mad_events GROUP BY event_type
        ),
        dev AS (
          SELECT e.event_type, e.value, m.med,
                 abs(e.value - m.med) AS absdev
          FROM _mad_events e JOIN med m ON e.event_type = m.event_type
        ),
        mad AS (
          SELECT event_type,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY absdev)
                   AS mad
          FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               any_value(d.med) AS med,
               any_value(f.mad) AS mad,
               sum(CASE WHEN d.absdev > 3.0D * 1.4826D * f.mad
                        THEN 1 ELSE 0 END) AS n_outliers,
               count(*) AS n
        FROM dev d JOIN mad f ON d.event_type = f.event_type
        GROUP BY d.event_type
        """
    )


ORACLE_MAD_OUTLIERS_EVENTS = """
WITH e AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT event_type, quantile_disc(value, 0.5) AS med
  FROM e GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS absdev
  FROM e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, quantile_disc(absdev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       any_value(d.med) AS med,
       any_value(f.mad) AS mad,
       CAST(SUM(CASE WHEN d.absdev > 3.0 * 1.4826 * f.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       count(*) AS n
FROM dev d JOIN mad f ON d.event_type = f.event_type
GROUP BY d.event_type
"""

QUERIES["mad_outliers_events"] = q_mad_outliers_events
ORACLES["mad_outliers_events"] = ORACLE_MAD_OUTLIERS_EVENTS


NTILE_BUCKETS = 16


def q_ntile_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed NTILE (operators/scan.py:global_ntile): equi-depth
    16-bucket binning of ALL orders by (o_totalprice, o_orderkey) —
    the quantile-binning / decile-report / equal-shard classic that
    SQL writes as the single-reducer `NTILE(16) OVER (ORDER BY ...)`.
    The engine derives the bucket from the scan's dense rank with
    NTILE's exact integer contract (first n%B buckets take one extra
    row, integer `div` throughout); the oracle IS the window
    function. Per-bucket count/min/max/id-sum make the whole
    assignment observable in 16 hashed rows."""
    configure_for_oracle_parity(spark)
    from ..operators.scan import global_ntile

    o = load_table(spark, sf_dir, "orders")
    binned = global_ntile(
        o, ["o_totalprice", "o_orderkey"], NTILE_BUCKETS, out_col="bucket"
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.sum("o_orderkey").alias("sum_keys"),
    )


ORACLE_NTILE_SCAN_ORDERS = f"""
WITH b AS (
  SELECT o_orderkey, o_totalprice,
         CAST(NTILE({NTILE_BUCKETS})
              OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
           AS bucket
  FROM orders
)
SELECT bucket,
       count(*) AS n_rows,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
FROM b
GROUP BY bucket
"""

QUERIES["ntile_scan_orders"] = q_ntile_scan_orders
ORACLES["ntile_scan_orders"] = ORACLE_NTILE_SCAN_ORDERS


def q_skyline3d_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-D skyline (operators/scan.py:skyline_nd — the d>2 scale path
    skyline_2d's sort trick cannot take): minimize price, maximize
    size, maximize a derived quality tier. Local per-partition
    skylines (vectorized numpy dominance over DISTINCT points via
    mapInPandas) then one bounded merge pass over the survivor
    union — the distributed block-nested-loop of the skyline
    literature, with a hard raise if the frontier exceeds the cap
    instead of a silent truncation. Oracle: the 3-D NOT EXISTS
    dominance definition. Values pass through untouched."""
    configure_for_oracle_parity(spark)
    from ..operators.scan import skyline_nd

    p = load_table(spark, sf_dir, "part").select(
        "p_retailprice",
        "p_size",
        (F.col("p_partkey") % 10).alias("quality"),
    )
    return skyline_nd(
        p, minimize_cols=["p_retailprice"],
        maximize_cols=["p_size", "quality"],
    )


ORACLE_SKYLINE3D_PARTS = """
WITH pts AS (
  SELECT DISTINCT p_retailprice, p_size, p_partkey % 10 AS quality
  FROM part
)
SELECT p_retailprice, p_size, quality
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size
    AND q.quality >= p.quality
    AND (q.p_retailprice < p.p_retailprice
         OR q.p_size > p.p_size
         OR q.quality > p.quality)
)
"""

QUERIES["skyline3d_parts"] = q_skyline3d_parts
ORACLES["skyline3d_parts"] = ORACLE_SKYLINE3D_PARTS


# ---------------------------------------------------------------------------
# HdrHistogram-style mergeable quantile sketch (round 10, verdict ask #5)
# ---------------------------------------------------------------------------

HDR_PROBES = (50, 90, 95, 99)


def q_hdr_quantile_sketch_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable quantile sketch, build + MERGE + query on the hash
    path: two sketches built over disjoint halves of events (odd /
    even event_id) are merged counter-wise and rank-queried for
    p50/p90/p95/p99 of value per event_type. The oracle replays the
    ENTIRE sketch semantics in integer SQL — quantize to cents,
    log-linear bucket via binary-string bit length + shifts (no libm
    anywhere), counter sums, cumulative rank selection, midpoint
    reconstruction — so a wrong bucket id, a lost counter in the
    merge, an off-by-one rank target, or a broken reconstruction each
    hash-fails. Because the oracle builds DIRECTLY over the union
    while the engine goes through the split+merge path, a green row
    simultaneously proves the monoid law on driver data (design like
    kmv/cms/bloom: extensions/sketches.py hdr_*; reference KPI shape
    dashboard/app.py:300-351)."""
    from ..extensions.sketches import hdr_build, hdr_merge, hdr_quantiles

    configure_for_oracle_parity(spark)
    ev = load_table(spark, sf_dir, "events")
    a = hdr_build(ev.filter(F.col("event_id") % 2 == 0), "value",
                  ["event_type"])
    b = hdr_build(ev.filter(F.col("event_id") % 2 == 1), "value",
                  ["event_type"])
    sk = hdr_merge(a, b, ["event_type"])
    return hdr_quantiles(sk, ["event_type"], list(HDR_PROBES)).select(
        "event_type",
        F.col("probe_pct").cast("int").alias("probe_pct"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("est_scaled").cast("long").alias("est_scaled"),
    )


_HDR_PROBES_SQL = ", ".join(f"({p})" for p in HDR_PROBES)

# the sketch replay shared by both HDR oracles: bucket ids and
# per-(event_type, bucket) counts over integer-quantized values
_HDR_SKETCH_SQL = """
q AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS m
  FROM events
  WHERE value IS NOT NULL
),
bk AS (
  SELECT event_type, m,
         CASE WHEN m = 0 THEN 0
              ELSE (CASE WHEN m > 0 THEN 1 ELSE -1 END) *
                   (GREATEST(length(printf('%b', abs(m))) - 1 - 5, 0)
                      * 64
                    + (abs(m) >> GREATEST(
                         length(printf('%b', abs(m))) - 1 - 5, 0)))
         END AS bucket
  FROM q
),
sk AS (
  SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM bk GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bucket, cnt,
         CAST(sum(cnt) OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM sk
),
hit AS (
  SELECT c.event_type, p.probe_pct, min(c.bucket) AS bucket,
         max(c.n) AS n_rows
  FROM cum c, (VALUES {probes}) p(probe_pct)
  WHERE c.cum >= (p.probe_pct * c.n + 99) // 100
  GROUP BY 1, 2
),
est AS (
  SELECT event_type, probe_pct, n_rows, bucket,
         CASE WHEN bucket < 0 THEN -1 ELSE 1 END *
           (((abs(bucket) % 64) << (abs(bucket) // 64))
            + ((((abs(bucket) % 64) + 1) << (abs(bucket) // 64)) - 1)
           ) // 2 AS est_scaled
  FROM hit
)
""".replace("{probes}", _HDR_PROBES_SQL)

ORACLE_HDR_QUANTILE_SKETCH_EVENTS = f"""
WITH {_HDR_SKETCH_SQL}
SELECT event_type, CAST(probe_pct AS INT) AS probe_pct, n_rows,
       CAST(bucket AS BIGINT) AS bucket,
       CAST(est_scaled AS BIGINT) AS est_scaled
FROM est
"""

QUERIES["hdr_quantile_sketch_events"] = q_hdr_quantile_sketch_events
ORACLES["hdr_quantile_sketch_events"] = ORACLE_HDR_QUANTILE_SKETCH_EVENTS


def q_hdr_quantile_error_bound_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The sketch's ACCURACY contract on the hash path (the
    recall-companion pattern): for every (event_type, probe) the
    sketch estimate is compared against the EXACT integer order
    statistic at the same rank target, and the row carries
    ``within_bound`` = |est - exact| * 2^(sub_bits+1) <= |exact| —
    the documented 2^-(sub_bits+1) relative-error guarantee, in pure
    integer arithmetic. The oracle recomputes BOTH sides (sketch
    replay + exact rank-select), so the gate fails if the estimate,
    the exact value, or the bound claim drifts. A companion pytest
    asserts all rows are within bound so a contract break fails the
    suite loudly, not just the hash."""
    from ..extensions.sketches import hdr_build, hdr_quantiles

    configure_for_oracle_parity(spark)
    ev = load_table(spark, sf_dir, "events")
    est = hdr_quantiles(
        hdr_build(ev, "value", ["event_type"]),
        ["event_type"],
        list(HDR_PROBES),
    )
    # NULL values are no observation on BOTH sides (matching
    # hdr_build's explicit drop): a NULL would order engine-
    # dependently in the rank window (Spark NULLS FIRST, DuckDB
    # NULLS LAST) and shift every target the day the corpus gains one
    m = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("mv"),
    )
    from pyspark.sql import Window

    ranked = m.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("mv")
        ),
    ).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    probes = F.explode(
        F.array(*[F.lit(p) for p in HDR_PROBES])
    ).alias("probe_pct")
    exact = (
        ranked.select("event_type", "mv", "rk", "n", probes)
        .filter(
            F.col("rk") >= F.expr("(probe_pct * n + 99) DIV 100")
        )
        .groupBy("event_type", "probe_pct")
        .agg(F.min("mv").alias("exact_scaled"))
    )
    return (
        est.join(exact, ["event_type", "probe_pct"])
        .select(
            "event_type",
            F.col("probe_pct").cast("int").alias("probe_pct"),
            F.col("est_scaled").cast("long").alias("est_scaled"),
            F.col("exact_scaled").cast("long").alias("exact_scaled"),
            (
                F.abs(F.col("est_scaled") - F.col("exact_scaled"))
                * F.lit(64)
                <= F.abs(F.col("exact_scaled"))
            ).alias("within_bound"),
        )
    )


ORACLE_HDR_QUANTILE_ERROR_BOUND_EVENTS = f"""
WITH {_HDR_SKETCH_SQL},
exact AS (
  SELECT t.event_type, p.probe_pct, min(t.mv) AS exact_scaled
  FROM (
    SELECT event_type, m AS mv,
           row_number() OVER (PARTITION BY event_type ORDER BY m)
             AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM q
  ) t, (VALUES {_HDR_PROBES_SQL}) p(probe_pct)
  WHERE t.rk >= (p.probe_pct * t.n + 99) // 100
  GROUP BY 1, 2
)
SELECT e.event_type, CAST(e.probe_pct AS INT) AS probe_pct,
       CAST(e.est_scaled AS BIGINT) AS est_scaled,
       CAST(x.exact_scaled AS BIGINT) AS exact_scaled,
       abs(e.est_scaled - x.exact_scaled) * 64 <= abs(x.exact_scaled)
         AS within_bound
FROM est e
JOIN exact x
  ON e.event_type = x.event_type AND e.probe_pct = x.probe_pct
"""

QUERIES["hdr_quantile_error_bound_events"] = (
    q_hdr_quantile_error_bound_events
)
ORACLES["hdr_quantile_error_bound_events"] = (
    ORACLE_HDR_QUANTILE_ERROR_BOUND_EVENTS
)
