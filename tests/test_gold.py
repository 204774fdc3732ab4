"""Gold-layer aggregation tests on the hand-computable fixture
(FIXTURES.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_for_smart_houses_spark.operators.gold import (
    daily_business_summary,
    daily_energy_consumption,
    device_health_metrics,
)
from big_data_for_smart_houses_spark.operators.silver import bronze_to_silver


@pytest.fixture(scope="module")
def gold(spark, telemetry_fixture, catalog_fixture):
    silver = bronze_to_silver(telemetry_fixture, catalog_fixture)
    daily = daily_energy_consumption(silver)
    health = device_health_metrics(silver)
    return {
        "daily_energy_consumption": daily,
        "device_health_metrics": health,
        "daily_business_summary": daily_business_summary(daily, health),
    }


def test_daily_energy(gold):
    daily = {r.device_id: r for r in gold["daily_energy_consumption"].collect()}
    d1 = daily["device_001"]
    assert d1.energy_consumption_wh_sum == pytest.approx(68.3)
    assert d1.energy_consumption_wh_count == 2
    assert d1.total_readings == 2
    assert d1.power_usage_mean == pytest.approx(2050.0)
    assert d1.temperature_min == pytest.approx(22.0)
    assert d1.temperature_max == pytest.approx(23.0)
    assert d1.is_valid_mean == pytest.approx(1.0)
    assert d1.data_completeness == pytest.approx(100.0)
    # cost = 68.3/1000 * 0.12, .round(2) as in the reference
    # (silver_to_gold.py:109-111)
    assert d1.energy_cost_estimate == pytest.approx(round(68.3 / 1000 * 0.12, 2))


def test_device_health_shape_and_bounds(gold):
    rows = gold["device_health_metrics"].collect()
    assert {r.device_id for r in rows} == {
        "device_001",
        "device_002",
        "device_003",
        "device_099",
    }
    for r in rows:
        assert 0.0 <= r.health_score <= 1.0
        assert 0.0 <= r.failure_probability <= 1.0
        assert 0.0 <= r.data_reliability <= 1.0
        assert 0.0 <= r.uptime_percentage <= 100.0
        assert r.total_alerts >= 0


def test_health_formula_no_alerts_full_quality(gold):
    # device_002: quality 0.7, valid, no alerts, not late, single reading
    r = [x for x in gold["device_health_metrics"].collect() if x.device_id == "device_002"][0]
    expected_health = 0.7 * 0.4 + 1.0 * 0.3 + 1.0 * 0.2 + 1.0 * 0.1
    assert r.health_score == pytest.approx(round(expected_health, 3))
    expected_failure = min(1.0, (1 - expected_health) * 0.7)
    assert r.failure_probability == pytest.approx(round(expected_failure, 3), abs=1e-3)
    assert r.data_reliability == pytest.approx(1.0)
    # single reading -> zero span -> guarded division default -> 100%
    assert r.uptime_percentage == pytest.approx(100.0)


def test_business_summary(gold):
    rows = gold["daily_business_summary"].collect()
    assert len(rows) == 1
    r = rows[0]
    assert str(r.date) == "2025-07-20"
    assert r.active_devices == 4
    assert r.active_users == 2
    # total energy = sum of all surviving rows' energy
    assert r.total_energy_wh == pytest.approx(68.3 + 0.2 + 15.0 + 2.0)
    assert r.total_energy_kwh == pytest.approx(round(r.total_energy_wh / 1000, 3))
    assert r.total_data_points == 6
    assert r.created_at is not None
