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
# Math and bitwise scalar family
# ---------------------------------------------------------------------------


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
    cms/bloom: extensions/sketches.py hdr_*; reference KPI shape
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
