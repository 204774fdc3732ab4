"""Property tests defending the function gates' ORACLE
emulations — the gates hash Spark against DuckDB, so a bug that hits
both sides identically would slip through; these pin each emulation
against an independent pure-Python reference on adversarial inputs.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from hypothesis import given, settings

import os

# round-9 deep pass: these are pure-Python/DuckDB properties
# (microseconds per example) — HYPOTHESIS_PROFILE=deep doubles the
# already-dense 300-example default to 600
_DEEP = os.environ.get("HYPOTHESIS_PROFILE", "") == "deep"
_N = 600 if _DEEP else 300
from hypothesis import strategies as st


def _width_bucket_ref(x: float, lo: float, hi: float, n: int) -> int:
    """SQL-standard width_bucket for the gate's (0, 64, 8) config."""
    if x < lo:
        return 0
    if x >= hi:
        return n + 1
    import math

    return 1 + int(math.floor((x - lo) / ((hi - lo) / n)))


@given(st.floats(min_value=-10.0, max_value=80.0,
                 allow_nan=False, allow_infinity=False))
@settings(max_examples=_N, deadline=None)
def test_width_bucket_oracle_emulation_matches_reference(x):
    # the LIVE fragment the gate oracle is built from — not a copy
    from big_data_for_smart_houses_spark.queries.stats_gate import (
        width_bucket_sql,
    )

    con = duckdb.connect()
    got = con.execute(
        f"SELECT {width_bucket_sql(repr(x))}"
    ).fetchone()[0]
    con.close()
    assert got == _width_bucket_ref(x, 0.0, 64.0, 8), x


def _next_monday_ref(d: dt.date) -> dt.date:
    """Strictly-after next Monday (Spark next_day semantics)."""
    off = (0 - d.weekday() + 7) % 7  # Monday == weekday 0
    return d + dt.timedelta(days=off or 7)


@given(st.dates(min_value=dt.date(1990, 1, 1),
                max_value=dt.date(2100, 12, 31)))
@settings(max_examples=_N, deadline=None)
def test_next_day_oracle_arithmetic_matches_reference(d):
    # the LIVE fragment the gate oracle is built from — not a copy
    from big_data_for_smart_houses_spark.queries.stats_gate import (
        next_monday_sql,
    )

    lit = f"DATE '{d.isoformat()}'"
    ts = f"TIMESTAMP '{d.isoformat()} 00:00:00'"
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {next_monday_sql(lit, ts)}"
    ).fetchone()[0]
    con.close()
    assert got == _next_monday_ref(d), d


@pytest.mark.parametrize(
    "tz", ["America/New_York", "Asia/Tokyo", "Europe/Berlin"]
)
def test_tz_chain_round_trips_across_dst(tz):
    """The oracle's timezone() chain must invert cleanly on both
    sides of a DST transition (from-zone then back-to-UTC)."""
    con = duckdb.connect()
    for ts in ("2024-03-10 06:30:00", "2024-11-03 06:30:00",
               "2024-07-01 12:00:00", "2024-01-15 00:00:00"):
        back = con.execute(
            f"""SELECT timezone('UTC', timezone('{tz}',
                  timezone('{tz}', timezone('UTC',
                    TIMESTAMP '{ts}'))))""",
        ).fetchone()[0]
        assert back == dt.datetime.fromisoformat(ts), (tz, ts)
    con.close()
