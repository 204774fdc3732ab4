"""Window-function operators (SURVEY.md §2.5).

W1/W2 are 60-ROW frames per device, not time frames — the reference's
"1-hour" rolling metrics are literally ``rolling(60)`` row windows
(consumer/bronze_to_silver.py:246-268), so parity requires
``rowsBetween(-59, 0)``.

Scale note: one shuffle on device_id for all three window columns —
Spark computes W1/W2 and the dedup in a single Exchange when the
partition keys match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import guarded_div

ROWS_1H = 60  # 60 readings ≈ 1 h at the reference's 1 reading/min assumption


def _device_row_window(frame_rows: int = ROWS_1H):
    return (
        Window.partitionBy("device_id")
        .orderBy("timestamp")
        .rowsBetween(-(frame_rows - 1), Window.currentRow)
    )


def add_rolling_metrics(df: DataFrame, frame_rows: int = ROWS_1H) -> DataFrame:
    """W1 + W2 + P9 + P12 — per-device rolling means of temperature and
    power, alert flag + rolling alert count, and guarded
    energy-efficiency (reference consumer/bronze_to_silver.py:239-275).
    min_periods=1 semantics are the default for Spark window aggregates
    (nulls ignored, frame can be short at partition start). One
    projection, so all three frame aggregates share one ``Window``."""
    w = _device_row_window(frame_rows)
    has_alert = F.col("alert") != F.lit("none")
    return df.withColumns(
        {
            "temp_1h_avg": F.avg("temperature").over(w),
            "power_1h_avg": F.avg("power_usage").over(w),
            "energy_efficiency": guarded_div(
                F.col("energy_consumption_wh"), F.col("power_usage")
            ),
            "has_alert": has_alert,
            "alert_frequency_1h": F.sum(has_alert.cast("long"))
            .over(w)
            .cast("double"),
        }
    )


def top_k_latest(
    df: DataFrame, k: int, ts_col: str = "timestamp", tiebreak: str | None = None
) -> DataFrame:
    """O2 — newest k rows, returned in ascending time order for display
    (reference dashboard/app.py:567, 618). Spark plans the inner
    orderBy+limit as TakeOrderedAndProject — a true distributed top-k,
    no full sort. ``tiebreak`` makes the cut deterministic when
    timestamps can collide."""
    order = [F.col(ts_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    return df.orderBy(*order).limit(k).orderBy(F.col(ts_col).asc())


# Exactly representable in binary floating point, so alpha and
# (1 - alpha) are literally identical constants on every engine.
EWMA_ALPHA = 0.25


def ewma_smooth(
    df: DataFrame,
    value_col: str = "value",
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    alpha: float = EWMA_ALPHA,
) -> DataFrame:
    """Exponentially weighted moving average per key — the classic
    telemetry smoother (the recursive cousin of the W1 rolling mean):
    s_1 = x_1, s_i = alpha*x_i + (1-alpha)*s_{i-1} over the key's
    (ts, tiebreak) order.

    EWMA is inherently sequential, so the per-key history is folded
    with one O(n) higher-order aggregate over the collected, position-
    sorted series — one shuffle on the key, state bounded by per-key
    history length (the same bound the sessionizer accepts). For
    unbounded histories the streaming form belongs in
    applyInPandasWithState (see streaming/stateful.py), carrying only
    the last smoothed value as state; a window-frame rewrite would be
    O(n²) per key (pow-decay against every prior row).

    Both engines execute the identical multiply-add chain in the same
    order, so intermediates match bit-for-bit; the output is still
    gate-quantized per the float contract."""
    from ..functions.numeric import gate_quantize

    beta = 1.0 - alpha
    series = F.array_sort(
        F.collect_list(
            F.struct(F.col(ts_col), F.col(tiebreak_col), F.col(value_col))
        )
    )
    per_key = df.groupBy(key_col).agg(series.alias("_series"))
    vals = F.transform(F.col("_series"), lambda s: s.getField(value_col))
    smoothed = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.slice(vals, 1, 1),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.lit(alpha) * x + F.lit(beta) * F.element_at(acc, -1)
            ),
        ),
    )
    exploded = per_key.select(
        F.col(key_col),
        F.arrays_zip(F.col("_series"), smoothed.alias("_s")).alias("_z"),
    ).select(key_col, F.explode("_z").alias("_row"))
    return exploded.select(
        F.col(key_col),
        F.col(f"_row._series.{ts_col}").alias(ts_col),
        F.col(f"_row._series.{tiebreak_col}").alias(tiebreak_col),
        F.col(f"_row._series.{value_col}").alias(value_col),
        gate_quantize(F.col("_row._s")).alias("ewma"),
    )


def trailing_window_distinct(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Exact trailing-window distinct count per day — the WAU/MAU
    family: for every day with activity, how many distinct ids were
    active in the trailing ``window_days`` days (inclusive).

    SQL windows cannot express this (``COUNT(DISTINCT) OVER`` is
    illegal, and a self-join per day re-scans the fact table W
    times). The scalable form is bounded FAN-OUT: each (day, id)
    active pair — already deduplicated, so the fan-out multiplies the
    small distinct-pairs set, not the raw events — replicates to the
    ``window_days`` window anchors it contributes to, then one
    hash aggregate counts distincts per anchor. Shuffle volume is
    ``W × |distinct (day,id)|``, independent of raw event count; at
    100 TB that is the difference between a linear pass and a W-way
    self-join of the fact table. Anchors are restricted to days that
    actually appear (broadcast semi-join with the tiny day list).

    Returns ``(w_day, dau, wau)`` — same-day distincts ride along for
    free off the fan-out's k=0 slice.
    """
    acts = df.select(
        F.to_date(F.col(ts_col)).alias("_d"), F.col(id_col).alias("_id")
    ).distinct()
    days = acts.select(F.col("_d").alias("w_day")).distinct()
    fan = acts.select(
        "_d",
        "_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(int(window_days) - 1))
        ).alias("_k"),
    ).select(
        F.date_add(F.col("_d"), F.col("_k")).alias("w_day"), "_id", "_k"
    )
    return (
        fan.join(F.broadcast(days), "w_day", "left_semi")
        .groupBy("w_day")
        .agg(
            F.count_distinct(
                F.when(F.col("_k") == 0, F.col("_id"))
            ).alias("dau"),
            F.count_distinct("_id").alias("wau"),
        )
    )
