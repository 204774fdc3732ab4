"""Output checks in DuckDB, run outside the timed region.

DuckDB recomputes silver's rules (required fields, range filters,
keep-first dedup on ``(device_id, timestamp)``) from the generated
inputs, and compares silver row counts, gold per-day energy sums and
``total_readings``, and the dashboard KPI with what Spark wrote.

Gold rounds each (device, day) energy sum to 3 decimals and each cost to
2, so sums over groups are compared within half a unit of that rounding
per group; row counts and device counts must match exactly.
"""

from __future__ import annotations

import duckdb

RATE = 0.12  # schemas.ENERGY_RATE_PER_KWH

_RULES = """
    device_id IS NOT NULL AND device_type IS NOT NULL AND user_id IS NOT NULL
    AND ts IS NOT NULL AND status IS NOT NULL AND alert IS NOT NULL
    AND temperature BETWEEN -50 AND 100 AND power_usage BETWEEN 0 AND 10000
    AND energy >= 0
"""


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET memory_limit = '1GB'")
    return con


def load_bronze(con, bronze: str) -> None:
    """Expected silver (view ``expect``) from the bronze backlog."""
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW src AS
        SELECT 0 AS batch, device_id, device_type, user_id, status, alert,
               TRY_CAST(timestamp AS TIMESTAMP) AS ts,
               temperature, power_usage, energy_consumption_wh AS energy,
               TRY_CAST(ingestion_time AS TIMESTAMP) AS ingest
        FROM read_parquet('{bronze}/*/*.parquet', hive_partitioning = true)
    """)
    _expect(con)


def load_json(con, files: list[str]) -> None:
    """Expected silver (view ``expect``) from delivered JSON-lines files,
    one incremental-silver batch per file: dedup is per batch, as in
    ``run_bronze_to_silver_incremental``."""
    listing = ", ".join(f"'{f}'" for f in files)
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW src AS
        WITH lines AS (
            SELECT list_position([{listing}], filename) - 1 AS batch,
                   unnest(string_split(content, chr(10))) AS line
            FROM read_text([{listing}])
        ), ok AS (
            SELECT batch, CASE WHEN json_valid(line) THEN line END AS j FROM lines
        )
        SELECT batch, j->>'$.device_id' AS device_id, j->>'$.device_type' AS device_type,
               j->>'$.user_id' AS user_id, j->>'$.status' AS status, j->>'$.alert' AS alert,
               TRY_CAST(j->>'$.timestamp' AS TIMESTAMP) AS ts,
               TRY_CAST(j->'$.temperature' AS DOUBLE) AS temperature,
               TRY_CAST(j->'$.power_usage' AS DOUBLE) AS power_usage,
               TRY_CAST(j->'$.energy_consumption_wh' AS DOUBLE) AS energy,
               NULL::TIMESTAMP AS ingest
        FROM ok WHERE j IS NOT NULL
    """)
    _expect(con)


def _expect(con) -> None:
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE expect AS
        SELECT * FROM src WHERE {_RULES}
        QUALIFY row_number() OVER (PARTITION BY batch, device_id, ts ORDER BY ingest) = 1
    """)


def expected_rows(con, batch: int | None = None) -> int:
    where = "" if batch is None else f"WHERE batch = {batch}"
    return con.execute(f"SELECT count(*) FROM expect {where}").fetchone()[0]


def silver_rows(con, silver: str) -> tuple[int, int]:
    """(rows, distinct (device_id, timestamp) keys) of a silver dir."""
    return con.execute(f"""
        SELECT count(*), count(DISTINCT (device_id, timestamp))
        FROM read_parquet('{silver}/**/*.parquet', hive_partitioning = false)
    """).fetchone()


def check_gold_daily(con, gold_root: str) -> list[str]:
    """Per-day energy sums and total_readings of gold vs ``expect``."""
    got = dict((d, (e, n, g)) for d, e, n, g in con.execute(f"""
        SELECT date, sum(energy_consumption_wh_sum), sum(total_readings), count(*)
        FROM read_parquet('{gold_root}/daily_energy_consumption/*.parquet')
        GROUP BY date
    """).fetchall())
    want = dict((d, (e, n)) for d, e, n in con.execute(
        "SELECT ts::DATE, sum(energy), count(energy) FROM expect GROUP BY 1"
    ).fetchall())
    errors = []
    if set(got) != set(want):
        return [f"gold dates {sorted(got)} != {sorted(want)}"]
    for d, (e, n) in want.items():
        ge, gn, groups = got[d]
        if gn != n:
            errors.append(f"gold {d} total_readings {gn} != {n}")
        if abs(ge - e) > 0.0005 * groups + 1e-9 * abs(e):
            errors.append(f"gold {d} energy {ge} != {e}")
    return errors


def check_kpi(con, kpi: dict, today, max_batch: int) -> list[str]:
    """The KPI row of ``kpi_with_fallback`` against ``expect`` restricted
    to batches ``<= max_batch`` (what had landed when it was read)."""
    e, c, dev, groups = con.execute(f"""
        WITH g AS (
            SELECT device_id, sum(energy) AS e FROM expect
            WHERE ts::DATE = DATE '{today}' AND batch <= {max_batch}
            GROUP BY device_id, device_type, user_id
        )
        SELECT sum(e) / 1000, sum(e) / 1000 * {RATE}, count(DISTINCT device_id), count(*) FROM g
    """).fetchone()
    errors = []
    if kpi["kpi_source"] != "gold_today":
        errors.append(f"kpi source {kpi['kpi_source']}")
    if kpi["active_devices"] != dev:
        errors.append(f"kpi active_devices {kpi['active_devices']} != {dev}")
    if abs(kpi["total_energy_kwh"] - e) > groups * 0.0005 / 1000 + 1e-9 * e:
        errors.append(f"kpi energy {kpi['total_energy_kwh']} != {e}")
    if abs(kpi["total_cost"] - c) > groups * 0.0051 + 1e-9 * c:
        errors.append(f"kpi cost {kpi['total_cost']} != {c}")
    return errors
