"""Read-side analytics queries (SURVEY.md §2.11 — the dashboard DAGs).

Each function is the Spark-SQL equivalent of one dashboard query
(reference dashboard/app.py). They are small plans over the gold/silver
tables; at 100 TB the date filters hit partition pruning, and the top-k
live queries plan as TakeOrderedAndProject (no full sort).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import ENERGY_RATE_PER_KWH
from .windows import top_k_latest


def kpi_today(daily_energy: DataFrame, today: dt.date) -> DataFrame:
    """KPI row: total energy (kWh), total cost, active devices for one
    date (reference dashboard/app.py:293-302)."""
    return (
        daily_energy.filter(F.col("date") == F.lit(today))
        .agg(
            (F.sum("energy_consumption_wh_sum") / 1000.0).alias("total_energy_kwh"),
            F.sum("energy_cost_estimate").alias("total_cost"),
            F.countDistinct("device_id").alias("active_devices"),
        )
    )


def kpi_with_fallback(
    daily_energy: DataFrame,
    silver: DataFrame,
    summary: DataFrame,
    health: DataFrame,
    today: dt.date,
    now: dt.datetime,
    rate: float = ENERGY_RATE_PER_KWH,
) -> DataFrame:
    """The dashboard's full KPI source-priority chain as ONE composed
    plan (reference dashboard/app.py:277-357):

    1. gold ``daily_energy`` filtered to ``today`` — used if any rows;
    2. else silver last-24h (cost = kWh × rate);
    3. if the result is still zero energy and a business summary
       exists, the latest summary row's values win;
    4. ``avg_health`` = mean health score × 100 (0 when empty).

    Each source collapses to a broadcast 1-row aggregate and the
    priority logic is pure column CASEs over their cross join — no
    driver-side branching, no second scan of any table, and the same
    plan shape at any scale. ``kpi_source`` reports which tier won."""
    g = daily_energy.filter(F.col("date") == F.lit(today)).agg(
        F.count(F.lit(1)).alias("n_g"),
        (F.sum("energy_consumption_wh_sum") / 1000.0).alias("e_g"),
        F.sum("energy_cost_estimate").alias("c_g"),
        F.countDistinct("device_id").alias("d_g"),
    )
    cutoff = now - dt.timedelta(hours=24)
    s = silver.filter(F.col("timestamp") >= F.lit(cutoff)).agg(
        (F.coalesce(F.sum("energy_consumption_wh"), F.lit(0.0)) / 1000.0).alias(
            "e_s"
        ),
        F.countDistinct("device_id").alias("d_s"),
    )
    b = summary.agg(
        F.count(F.lit(1)).alias("n_b"),
        F.max_by("total_energy_kwh", "date").alias("e_b"),
        F.max_by("total_cost_estimate", "date").alias("c_b"),
        F.max_by("active_devices", "date").alias("d_b"),
    )
    h = health.agg(
        F.coalesce(F.avg("health_score") * 100.0, F.lit(0.0)).alias("avg_health")
    )
    row = (
        g.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(h))
    )
    gold_hit = F.col("n_g") > 0
    e1 = F.when(gold_hit, F.col("e_g")).otherwise(F.col("e_s"))
    c1 = F.when(gold_hit, F.col("c_g")).otherwise(F.col("e_s") * rate)
    d1 = F.when(gold_hit, F.col("d_g")).otherwise(F.col("d_s"))
    use_b = (e1 == 0.0) & (F.col("n_b") > 0)
    source = (
        F.when(use_b, F.lit("business_summary"))
        .when(gold_hit, F.lit("gold_today"))
        .otherwise(F.lit("silver_24h"))
    )
    return row.select(
        F.when(use_b, F.col("e_b")).otherwise(e1).alias("total_energy_kwh"),
        F.when(use_b, F.col("c_b")).otherwise(c1).alias("total_cost"),
        F.when(use_b, F.col("d_b"))
        .otherwise(d1)
        .cast("long")
        .alias("active_devices"),
        F.col("avg_health"),
        source.alias("kpi_source"),
    )


def energy_by_device_type(daily_energy: DataFrame) -> DataFrame:
    """Per-type energy (kWh) (reference dashboard/app.py:359-408)."""
    return daily_energy.groupBy("device_type").agg(
        (F.sum("energy_consumption_wh_sum") / 1000.0).alias("energy_kwh")
    )


def daily_energy_trend(daily_energy: DataFrame) -> DataFrame:
    """Per-date energy (kWh), ordered (reference dashboard/app.py:410-457)."""
    return (
        daily_energy.groupBy("date")
        .agg((F.sum("energy_consumption_wh_sum") / 1000.0).alias("energy_kwh"))
        .orderBy("date")
    )


def daily_cost_trend(daily_energy: DataFrame) -> DataFrame:
    """Per-date cost trend (reference dashboard/app.py:459-504)."""
    return (
        daily_energy.groupBy("date")
        .agg(
            (F.sum("energy_consumption_wh_sum") / 1000.0 * ENERGY_RATE_PER_KWH).alias(
                "cost"
            )
        )
        .orderBy("date")
    )


def health_scatter(health: DataFrame) -> DataFrame:
    """Projection for the health scatter plot (reference
    dashboard/app.py:506-544)."""
    return health.select(
        "health_score",
        "failure_probability",
        "total_alerts",
        "device_type",
        "device_id",
    )


def live_readings(
    silver: DataFrame,
    now: dt.datetime,
    hours: int = 2,
    k: int = 100,
    value_cols: tuple[str, ...] = ("temperature", "power_usage"),
) -> DataFrame:
    """Live chart feed: last ``hours`` of readings, newest ``k`` rows in
    ascending time order (reference dashboard/app.py:546-646;
    MAX_LIVE_CHART_RECORDS=100 at config/config.py:88)."""
    cutoff = now - dt.timedelta(hours=hours)
    recent = silver.filter(F.col("timestamp") >= F.lit(cutoff)).select(
        "device_id", "timestamp", *value_cols
    )
    return top_k_latest(recent, k)


def data_status(tables: dict[str, DataFrame]) -> DataFrame:
    """Sidebar counts + time range per table (reference
    dashboard/app.py:708-719)."""
    spark = next(iter(tables.values())).sparkSession
    parts = []
    for name, df in tables.items():
        ts_col = "timestamp" if "timestamp" in df.columns else (
            "date" if "date" in df.columns else None
        )
        agg = [F.count(F.lit(1)).alias("n_rows")]
        if ts_col:
            agg += [
                F.min(ts_col).cast("string").alias("min_ts"),
                F.max(ts_col).cast("string").alias("max_ts"),
            ]
        else:
            agg += [
                F.lit(None).cast("string").alias("min_ts"),
                F.lit(None).cast("string").alias("max_ts"),
            ]
        parts.append(df.agg(*agg).select(F.lit(name).alias("table"), "*"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
