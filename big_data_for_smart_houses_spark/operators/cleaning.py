"""Validation and cleaning operators (SURVEY.md §2.2 P1-P5, §2.5 W3).

All pure Column expressions and built-in operators — every filter here
is pushed into the parquet scan by Catalyst (predicate pushdown +
row-group min/max skipping), which at 100 TB means the out-of-range
rows never leave the scan stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import CRITICAL_FIELDS, NUMERIC_TELEMETRY_FIELDS


def coerce_numerics(df: DataFrame) -> DataFrame:
    """P2 — ``pd.to_numeric(errors='coerce')`` equivalent: try_cast to
    double, invalid -> null (reference consumer/bronze_to_silver.py:136)
    under any ANSI setting."""
    for f in NUMERIC_TELEMETRY_FIELDS:
        df = df.withColumn(f, F.col(f).try_cast("double"))
    return df


def apply_range_filters(df: DataFrame) -> DataFrame:
    """P3 — physical-range predicates; rows failing (incl. null/NaN)
    dropped (reference consumer/bronze_to_silver.py:139-144). Spark's
    null-rejecting comparison matches pandas' NaN-rejecting one."""
    return df.filter(
        (F.col("temperature") >= -50)
        & (F.col("temperature") <= 100)
        & (F.col("power_usage") >= 0)
        & (F.col("power_usage") <= 10000)
        & (F.col("energy_consumption_wh") >= 0)
    )


def drop_null_critical(df: DataFrame) -> DataFrame:
    """P4 — drop rows with null device_id/device_type/user_id/timestamp
    (reference consumer/bronze_to_silver.py:128-129)."""
    return df.na.drop(subset=CRITICAL_FIELDS)


def drop_all_null_numeric(df: DataFrame) -> DataFrame:
    """P5 — keep row if any of the 3 numerics is non-null (reference
    consumer/bronze_to_silver.py:147)."""
    return df.na.drop(how="all", subset=NUMERIC_TELEMETRY_FIELDS)


def dedup_keep_first(
    df: DataFrame,
    keys: list[str],
    order_col: str = "ingestion_time",
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """W3 — deterministic keep-first dedup.

    pandas ``drop_duplicates`` keeps the first row in concat order
    (reference consumer/bronze_to_silver.py:125); Spark's plain
    ``dropDuplicates`` keeps an *arbitrary* row, so for determinism we
    keep the row with the smallest ``order_col`` per key via
    ``row_number`` (SURVEY.md §7.3 trap 2). One shuffle on ``keys`` —
    the same shuffle ``dropDuplicates`` would need, no extra cost.

    If rows can tie on ``(keys, order_col)`` while differing in
    payload, pass ``tiebreak_cols`` (e.g. a unique event id) to pin
    which row survives — otherwise the survivor among such ties is
    partition-order dependent. Call sites that omit it assert that
    full ties are exact duplicate rows in their data model, where any
    survivor is the same row.
    """
    order = [F.col(order_col).asc_nulls_last()] + [
        F.col(c).asc_nulls_last() for c in tiebreak_cols
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
