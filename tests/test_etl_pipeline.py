"""End-to-end ETL orchestration (SURVEY.md §5 item 4): simulator ->
bronze -> incremental silver -> gold snapshots, through the same
entry points the CLI exposes; re-running the incremental stage must be
a no-op (exactly-once)."""

from __future__ import annotations

from big_data_for_smart_houses_spark.operators.gold import (
    daily_business_summary,
    daily_energy_consumption,
    device_health_metrics,
)
from big_data_for_smart_houses_spark.operators.silver import bronze_to_silver
from big_data_for_smart_houses_spark.plans import (
    run_bronze_to_silver_incremental,
    run_silver_to_gold,
)
from big_data_for_smart_houses_spark.sources.parquet import write_partitioned

from pyspark.sql import functions as F


def test_end_to_end_etl(
    spark, telemetry_fixture, catalog_fixture, tmp_path
):
    tmp = str(tmp_path)
    bronze_path = f"{tmp}/bronze"
    silver_path = f"{tmp}/silver"
    gold_root = f"{tmp}/gold"
    catalog_path = f"{tmp}/catalog.csv"

    # stage bronze exactly as the streaming sink writes it
    bronze = telemetry_fixture.withColumn(
        "event_date", F.to_date(F.col("timestamp"))
    )
    write_partitioned(bronze, bronze_path, partition_col="event_date")
    catalog_fixture.toPandas().to_csv(catalog_path, index=False)

    run_bronze_to_silver_incremental(
        spark, bronze_path, silver_path, f"{tmp}/ckpt", catalog_path
    )
    silver = spark.read.parquet(silver_path)
    # fixture: 10 rows -> 1 dup dropped, 2 out-of-range dropped,
    # 1 null-critical dropped => 6 silver rows
    assert silver.count() == 6
    assert "temp_1h_avg" in silver.columns and "is_late_event" in silver.columns
    # catalog enrichment ran (intended P14 semantics)
    aged = silver.filter(F.col("device_age_days").isNotNull()).count()
    assert aged >= 5  # all cataloged devices; device_099 stays null

    # exactly-once: a second incremental run adds nothing
    run_bronze_to_silver_incremental(
        spark, bronze_path, silver_path, f"{tmp}/ckpt", catalog_path
    )
    assert spark.read.parquet(silver_path).count() == 6

    gold = run_silver_to_gold(spark, silver_path, gold_root)
    daily = spark.read.parquet(f"{gold_root}/daily_energy_consumption")
    health = spark.read.parquet(f"{gold_root}/device_health_metrics")
    summary = spark.read.parquet(f"{gold_root}/daily_business_summary")
    assert daily.count() > 0 and health.count() > 0 and summary.count() == 1
    s = summary.collect()[0]
    assert s.active_devices == 4  # 001, 002, 003, 099
    assert s.total_data_points == 6
    assert set(gold) == {
        "daily_energy_consumption",
        "device_health_metrics",
        "daily_business_summary",
    }


def test_silver_to_gold_caches_nothing_and_summary_matches(
    spark, telemetry_fixture, catalog_fixture, tmp_path
):
    """Gold leaves nothing in the cache manager, and the summary built
    from the written daily/health tables equals the one computed from
    silver in memory."""
    tmp = str(tmp_path)
    silver_path, gold_root = f"{tmp}/silver", f"{tmp}/gold"
    write_partitioned(
        bronze_to_silver(telemetry_fixture, catalog_fixture), silver_path
    )
    spark.catalog.clearCache()
    run_silver_to_gold(spark, silver_path, gold_root)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    silver = spark.read.parquet(silver_path)
    expected = daily_business_summary(
        daily_energy_consumption(silver), device_health_metrics(silver)
    ).drop("created_at")
    written = spark.read.parquet(f"{gold_root}/daily_business_summary")
    assert written.columns[-1] == "created_at"
    assert sorted(written.drop("created_at").collect()) == sorted(
        expected.collect()
    )


def test_cli_parser_smoke():
    """The CLI must at minimum parse its documented subcommands."""
    import pytest

    from big_data_for_smart_houses_spark.cli import main

    with pytest.raises(SystemExit):
        main([])  # missing subcommand
    with pytest.raises(SystemExit):
        main(["silver"])  # missing required args
