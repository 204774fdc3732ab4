"""Silver -> Gold aggregations (SURVEY.md §2.4 A1/A2/A3, §2.3 J2).

All are single-pass hash aggregations with map-side partial aggregation
(free in Spark). ``bround`` (half-even) everywhere the reference uses
pandas ``.round`` (SURVEY.md §2.4 rounding note); boolean means cast to
double first (A5).

Scale: A1 and A2 each make one plain scan of silver; A3 reads only
the small A1/A2 outputs, so ``plans.etl.run_silver_to_gold`` builds it
from the written tables rather than recomputing them from silver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import bround3, clamp01, guarded_div
from ..functions.timeutil import delta_minutes_us
from ..schemas import ENERGY_RATE_PER_KWH


def daily_energy_consumption(silver: DataFrame, rounded: bool = True) -> DataFrame:
    """A1 — per (device_id, device_type, user_id, date) energy rollup
    (reference consumer/silver_to_gold.py:83-129). Aggregate column
    names follow the reference's flattened ``{col}_{func}`` convention
    (:105).

    ``rounded=True`` applies the reference's rounding widths —
    ``.round(3)`` for the aggregates and ``avg_efficiency``,
    ``.round(2)`` for ``energy_cost_estimate``, ``.round(1)`` for
    ``data_completeness`` (silver_to_gold.py:102-124). Cross-engine
    differential checks should pass ``rounded=False``: decimal
    rounding amplifies last-bit float summation differences to 1e-3
    whenever an aggregate lands exactly on a .0005 boundary, so raw
    doubles compare more reliably.

    ``avg_efficiency`` is the guarded ratio of the GROUP MEANS
    (energy_mean / power_mean, silver_to_gold.py:114-118) — not the
    mean of per-row ratios, which differs whenever power varies
    within a group."""
    r = bround3 if rounded else (lambda c: c)
    r2 = (lambda c: F.bround(c, 2)) if rounded else (lambda c: c)
    r1 = (lambda c: F.bround(c, 1)) if rounded else (lambda c: c)
    agg = silver.groupBy("device_id", "device_type", "user_id", "date").agg(
        r(F.sum("energy_consumption_wh")).alias("energy_consumption_wh_sum"),
        r(F.avg("energy_consumption_wh")).alias("energy_consumption_wh_mean"),
        r(F.max("energy_consumption_wh")).alias("energy_consumption_wh_max"),
        F.count("energy_consumption_wh").alias("energy_consumption_wh_count"),
        r(F.avg("power_usage")).alias("power_usage_mean"),
        r(F.max("power_usage")).alias("power_usage_max"),
        r(F.avg("temperature")).alias("temperature_mean"),
        r(F.min("temperature")).alias("temperature_min"),
        r(F.max("temperature")).alias("temperature_max"),
        r(F.avg("quality_score")).alias("quality_score_mean"),
        r(F.avg(F.col("is_valid").cast("double"))).alias("is_valid_mean"),
        r(F.max("alert_frequency_1h")).alias("alert_frequency_1h_max"),
    )
    return agg.select(
        "device_id",
        "device_type",
        "user_id",
        "date",
        "energy_consumption_wh_sum",
        "energy_consumption_wh_mean",
        "energy_consumption_wh_max",
        "energy_consumption_wh_count",
        "power_usage_mean",
        "power_usage_max",
        "temperature_mean",
        "temperature_min",
        "temperature_max",
        "quality_score_mean",
        "is_valid_mean",
        "alert_frequency_1h_max",
        # cost = kWh × rate, .round(2) (silver_to_gold.py:109-111; rate config/config.py:46)
        r2(F.col("energy_consumption_wh_sum") / 1000.0 * ENERGY_RATE_PER_KWH).alias(
            "energy_cost_estimate"
        ),
        # ratio of group means, guarded on zero power (silver_to_gold.py:114-118)
        r(
            guarded_div(
                F.col("energy_consumption_wh_mean"), F.col("power_usage_mean")
            )
        ).alias("avg_efficiency"),
        # completeness = valid fraction × 100, .round(1) (silver_to_gold.py:121-123)
        r1(F.col("is_valid_mean") * 100.0).alias("data_completeness"),
        F.col("energy_consumption_wh_count").alias("total_readings"),
    )


def device_health_metrics(
    silver: DataFrame, rounded: bool = True, with_created_at: bool = True
) -> DataFrame:
    """A2 — per-device composite health scores (reference
    consumer/silver_to_gold.py:131-206). The weighted formulas
    (weights 0.4/0.3/0.2/0.1 at :154-159, failure at :162-167,
    reliability at :170-173, uptime at :182-188) are pure column
    arithmetic over one groupBy. ``rounded``/``with_created_at`` as in
    :func:`daily_energy_consumption` (cross-engine checks need
    deterministic, timestamp-free output)."""
    r = bround3 if rounded else (lambda c: c)
    agg = silver.groupBy("device_id", "device_type").agg(
        F.avg("quality_score").alias("_q"),
        F.avg(F.col("is_valid").cast("double")).alias("_v"),
        F.avg("alert_frequency_1h").alias("_alerts"),
        F.avg("processing_delay_hours").alias("_delay"),
        F.avg(F.col("is_late_event").cast("double")).alias("_late"),
        F.count("timestamp").alias("_n"),
        F.min("timestamp").alias("_ts_min"),
        F.max("timestamp").alias("_ts_max"),
    )
    health = F.col("_q") * 0.4 + F.col("_v") * 0.3 + (1.0 - F.col("_late")) * 0.2 + (
        1.0 - F.least(F.lit(1.0), F.col("_alerts") / 10.0)
    ) * 0.1
    failure = F.least(
        F.lit(1.0),
        (1.0 - health) * 0.7 + F.col("_alerts") / 20.0 + F.col("_late") * 0.3,
    )
    span_minutes = delta_minutes_us(F.col("_ts_max"), F.col("_ts_min"))
    uptime = F.least(
        F.lit(100.0),
        guarded_div(F.col("_n").cast("double"), span_minutes, default=100.0) * 100.0,
    )
    cols = [
        F.col("device_id"),
        F.col("device_type"),
        r(clamp01(health)).alias("health_score"),
        r(clamp01(failure)).alias("failure_probability"),
        r(F.col("_v") * 0.6 + (1.0 - F.col("_late")) * 0.4).alias(
            "data_reliability"
        ),
        # total alerts ≈ alert-rate × readings / 60 (silver_to_gold.py:176-179)
        F.bround(F.col("_alerts") * F.col("_n") / 60.0, 0)
        .cast("int")
        .alias("total_alerts"),
        # uptime is .round(1) in the reference (silver_to_gold.py:182-188)
        (F.bround(uptime, 1) if rounded else uptime).alias("uptime_percentage"),
    ]
    if with_created_at:
        cols.append(F.current_timestamp().alias("created_at"))
    return agg.select(*cols)


def daily_business_summary(
    daily_energy: DataFrame,
    health: DataFrame,
    rounded: bool = True,
    with_created_at: bool = True,
) -> DataFrame:
    """A3 + J2 — per-date business rollup of the daily-energy gold table
    joined (cross) with 1-row global health averages (reference
    consumer/silver_to_gold.py:208-275). The 1-row aggregate side makes
    the cross join a broadcast nested-loop — effectively free."""
    r = bround3 if rounded else (lambda c: c)
    # the reference rounds the groupby block to 2 decimals
    # (silver_to_gold.py:217-224), kWh/health/cost_per_kwh to 3
    r2 = (lambda c: F.bround(c, 2)) if rounded else (lambda c: c)
    summary = daily_energy.groupBy("date").agg(
        r2(F.sum("energy_consumption_wh_sum")).alias("total_energy_wh"),
        r2(F.sum("energy_cost_estimate")).alias("total_cost_estimate"),
        F.countDistinct("device_id").alias("active_devices"),
        F.countDistinct("user_id").alias("active_users"),
        r2(F.avg("data_completeness")).alias("avg_data_quality"),
        F.sum("total_readings").alias("total_data_points"),
    )
    summary = summary.withColumn(
        "total_energy_kwh", r(F.col("total_energy_wh") / 1000.0)
    )
    health_scalars = health.agg(
        r(F.avg("health_score")).alias("avg_device_health"),
        r(F.avg("failure_probability")).alias("avg_failure_risk"),
        F.sum("total_alerts").cast("double").alias("total_alerts"),
    )
    out = summary.crossJoin(F.broadcast(health_scalars))
    cols = [
        F.col("date"),
        F.col("total_energy_wh"),
        F.col("total_cost_estimate"),
        F.col("active_devices"),
        F.col("active_users"),
        F.col("avg_data_quality"),
        F.col("total_data_points"),
        F.col("total_energy_kwh"),
        F.col("avg_device_health"),
        F.col("avg_failure_risk"),
        F.col("total_alerts"),
        r(
            guarded_div(F.col("total_cost_estimate"), F.col("total_energy_kwh"))
        ).alias("cost_per_kwh"),
    ]
    if with_created_at:
        cols.append(F.current_timestamp().alias("created_at"))
    return out.select(*cols)
