"""Billing reconciliation (operators/billing.py) — the join the
reference's data model declares but never runs (billing dimension at
config/billing_data.csv:1; `billing.raw` topic + bronze/silver dirs
at config/config.py:13,25,29; consumed by no ETL, SURVEY.md §1.3).

The fixture here is REFERENCE-SHAPED: the statement CSV uses the
exact published header and its first row's published values
(user_001, 2024-01, 0.12, 15.00, 450.5, 69.06 — internally
consistent: 15.00 + 450.5 x 0.12 = 69.06), read through the same
sources.csv.read_billing the engine would use in production."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import Row

from big_data_for_smart_houses_spark.operators.billing import (
    monthly_usage,
    reconcile_billing,
    unbilled_statements,
)
from big_data_for_smart_houses_spark.sources.csv import read_billing

REFERENCE_SHAPED_CSV = """user_id,billing_period,energy_rate_kwh,base_charge,total_usage_kwh,total_cost
user_001,2024-01,0.12,15.00,450.5,69.06
user_002,2024-01,0.12,15.00,520.8,77.50
user_003,2024-01,0.12,15.00,100.0,27.00
"""


@pytest.fixture()
def billing_df(spark, tmp_path):
    path = os.path.join(tmp_path, "billing_data.csv")
    with open(path, "w") as fh:
        fh.write(REFERENCE_SHAPED_CSV)
    return read_billing(spark, path)


def _usage(spark):
    # user_001 metered == billed exactly; user_002 metered 400 kWh vs
    # billed 520.8 (a real mismatch); user_004 has NO statement at
    # all; nobody meters usage for user_003's statement (phantom).
    return spark.createDataFrame(
        [
            Row(
                user_id="user_001",
                billing_period="2024-01",
                metered_usage_kwh=450.5,
                n_readings=100,
            ),
            Row(
                user_id="user_002",
                billing_period="2024-01",
                metered_usage_kwh=400.0,
                n_readings=80,
            ),
            Row(
                user_id="user_004",
                billing_period="2024-01",
                metered_usage_kwh=10.0,
                n_readings=4,
            ),
        ]
    )


def test_reference_shaped_statement_reconciles(spark, billing_df):
    out = {
        r["user_id"]: r
        for r in reconcile_billing(_usage(spark), billing_df).collect()
    }
    assert set(out) == {"user_001", "user_002", "user_004"}

    r1 = out["user_001"]
    # the reference's own published row is internally consistent:
    # 15.00 + 450.5 * 0.12 = 69.06 (config/billing_data.csv:2)
    assert r1["computed_cost"] == pytest.approx(69.06)
    assert r1["has_statement"] and r1["usage_reconciled"]
    assert r1["reconciled"]
    assert r1["effective_rate_kwh"] == pytest.approx(0.12)

    r2 = out["user_002"]
    assert r2["has_statement"]
    assert not r2["usage_reconciled"]  # 400 vs 520.8 billed
    assert not r2["reconciled"]  # 63.00 vs 77.50 billed
    assert r2["usage_delta_kwh"] == pytest.approx(-120.8)
    assert r2["computed_cost"] == pytest.approx(63.0)

    r4 = out["user_004"]
    assert not r4["has_statement"]
    assert not r4["usage_reconciled"] and not r4["reconciled"]
    assert r4["billed_cost"] is None and r4["cost_delta"] is None
    assert r4["effective_rate_kwh"] == 0.0  # guarded division default


def test_unbilled_statements_finds_phantom_bill(spark, billing_df):
    phantom = unbilled_statements(_usage(spark), billing_df).collect()
    assert [(r["user_id"], r["billing_period"]) for r in phantom] == [
        ("user_003", "2024-01")
    ]
    # and the left-join reconciliation must NOT fabricate a match
    recon_users = {
        r["user_id"]
        for r in reconcile_billing(_usage(spark), billing_df).collect()
    }
    assert "user_003" not in recon_users


def test_monthly_usage_tumbles_calendar_months(spark):
    df = spark.createDataFrame(
        [
            Row(user_id=1, ts=dt.datetime(2024, 1, 5), value=1500.0),
            Row(user_id=1, ts=dt.datetime(2024, 1, 31, 23, 59), value=500.0),
            Row(user_id=1, ts=dt.datetime(2024, 2, 1), value=250.0),
            Row(user_id=2, ts=dt.datetime(2024, 1, 10), value=1000.0),
        ]
    )
    rows = {
        (r["user_id"], r["billing_period"]): r
        for r in monthly_usage(df).collect()
    }
    assert set(rows) == {(1, "2024-01"), (1, "2024-02"), (2, "2024-01")}
    assert rows[(1, "2024-01")]["metered_usage_kwh"] == pytest.approx(2.0)
    assert rows[(1, "2024-01")]["n_readings"] == 2
    assert rows[(1, "2024-02")]["metered_usage_kwh"] == pytest.approx(0.25)


def test_reconcile_plan_broadcasts_the_statement_side(spark, billing_df):
    """At gate scale AQE must pick a broadcast-hash join for the
    KB-scale statement side — HINT-FREE (round-13 verdict ask #3):
    a forced broadcast on a user x month table OOMs at 10 M users x
    24 periods, so the strategy is left to AQE and this test asserts
    both the absence of any hint and the BHJ it picks here."""
    qe = reconcile_billing(_usage(spark), billing_df)._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    assert "ResolvedHint" not in optimized, optimized
    assert "hint" not in optimized.lower(), optimized
    plan = qe.executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unbilled_plan_is_hint_free(spark, billing_df):
    """Same scale-hygiene rule for the anti-join: both sides grow
    with the data, so no forced broadcast — AQE decides."""
    df = unbilled_statements(_usage(spark), billing_df)
    qe = df._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    assert "ResolvedHint" not in optimized, optimized
    assert "hint" not in optimized.lower(), optimized
    # the local-relation usage side has no size stats, so the INITIAL
    # plan is SMJ; run it and assert AQE's FINAL plan flipped to BHJ
    df.collect()
    final = qe.executedPlan().toString()
    assert "isFinalPlan=true" in final, final
    assert "BroadcastHashJoin" in final, final


def test_has_statement_survives_null_base_charge(spark):
    """round-13 advice: a matched statement row whose base_charge is
    NULL (malformed CSV field under the permissive read) must still
    report has_statement=true — the flag derives from a literal
    stamped on the statement side before the join, not from a
    nullable data column."""
    billing = spark.createDataFrame(
        [
            Row(
                user_id="user_001",
                billing_period="2024-01",
                energy_rate_kwh=0.12,
                base_charge=None,
                total_usage_kwh=450.5,
                total_cost=69.06,
            )
        ],
        schema=(
            "user_id string, billing_period string, "
            "energy_rate_kwh double, base_charge double, "
            "total_usage_kwh double, total_cost double"
        ),
    )
    out = {
        r["user_id"]: r
        for r in reconcile_billing(_usage(spark), billing).collect()
    }
    assert out["user_001"]["has_statement"] is True
    # the malformed field still nulls the recomputed cost, honestly
    assert out["user_001"]["computed_cost"] is None
    # ...but unmatched rows stay false
    assert out["user_004"]["has_statement"] is False


class TestReconcileProperty:
    """Hypothesis: reconcile_billing vs a pure-Python reference on
    randomized usage/statement tables (same convention as
    tests/test_properties.py — few examples, wide strategy space;
    each example pays a Spark job). Exercises zero billed usage
    (guarded division), unmatched usage (left-outer nulls), phantom
    statements (anti-join), and exact IEEE arithmetic parity of the
    recomputed-cost expression."""

    import hypothesis.strategies as _st

    _keys = _st.tuples(
        _st.sampled_from(["u1", "u2", "u3"]),
        _st.sampled_from(["2024-01", "2024-02"]),
    )
    _money = _st.floats(
        min_value=0, max_value=1e6, allow_nan=False, allow_infinity=False
    )
    usage_rows = _st.dictionaries(_keys, _money, min_size=1, max_size=6)
    stmt_rows = _st.dictionaries(
        _keys,
        _st.tuples(_money, _money, _money, _money),  # rate, base, kwh, cost
        max_size=6,
    )

    from hypothesis import given, settings

    @settings(max_examples=10, deadline=None)
    @given(usage=usage_rows, stmts=stmt_rows)
    def test_matches_python_reference(self, spark, usage, stmts):
        from pyspark.sql import Row

        from big_data_for_smart_houses_spark.operators.billing import (
            reconcile_billing,
            unbilled_statements,
        )

        tol = 0.05
        u_df = spark.createDataFrame(
            [
                Row(
                    user_id=k[0],
                    billing_period=k[1],
                    metered_usage_kwh=float(m),
                    n_readings=1,
                )
                for k, m in sorted(usage.items())
            ]
        )
        b_df = spark.createDataFrame(
            [
                Row(
                    user_id=k[0],
                    billing_period=k[1],
                    energy_rate_kwh=float(r),
                    base_charge=float(b),
                    total_usage_kwh=float(kwh),
                    total_cost=float(c),
                )
                for k, (r, b, kwh, c) in sorted(stmts.items())
            ]
        ) if stmts else spark.createDataFrame(
            [], schema="user_id string, billing_period string, "
            "energy_rate_kwh double, base_charge double, "
            "total_usage_kwh double, total_cost double",
        )

        out = {
            (r["user_id"], r["billing_period"]): r
            for r in reconcile_billing(u_df, b_df, tol).collect()
        }
        assert set(out) == set(usage)  # one row per metered key
        for k, m in usage.items():
            r = out[k]
            s = stmts.get(k)
            assert r["has_statement"] == (s is not None)
            if s is None:
                assert r["billed_cost"] is None
                assert r["usage_delta_kwh"] is None
                assert not r["reconciled"]
                assert not r["usage_reconciled"]
                assert r["effective_rate_kwh"] == 0.0
            else:
                rate, base, kwh, cost = (float(x) for x in s)
                computed = base + m * rate  # same IEEE op order
                assert r["computed_cost"] == computed
                assert r["usage_delta_kwh"] == m - kwh
                assert r["reconciled"] == (
                    abs(computed - cost) <= tol * cost
                )
                assert r["usage_reconciled"] == (
                    abs(m - kwh) <= tol * kwh
                )
                expect_rate = (
                    (cost - base) / kwh if kwh > 0 else 0.0
                )
                assert r["effective_rate_kwh"] == expect_rate

        phantom = {
            (r["user_id"], r["billing_period"])
            for r in unbilled_statements(u_df, b_df).collect()
        }
        assert phantom == set(stmts) - set(usage)


class TestBillingBronzeStream:
    """Streaming billing ingestion (round-13 verdict ask #4):
    `billing.raw` topic stand-in -> conform -> checkpointed bronze.
    The gate-level hash parity lives in the registry
    (billing_stream_availablenow); these tests pin the medallion
    contracts the hash can't see — exactly-once re-runs and the
    conform step's drift handling."""

    RAW_RECORDS = [
        # well-formed statement, plus the producer metadata conform
        # must drop
        '{"user_id": "7", "billing_period": "2024-01",'
        ' "energy_rate_kwh": "0.12", "base_charge": "15.0",'
        ' "total_usage_kwh": "450.5", "total_cost": "69.06",'
        ' "_source": "billing.raw"}',
        # type drift: unparseable rate -> try_cast nulls the FIELD,
        # never fails the task (P2)
        '{"user_id": "8", "billing_period": "2024-01",'
        ' "energy_rate_kwh": "not-a-number", "base_charge": "10.0",'
        ' "total_usage_kwh": "100.0", "total_cost": "22.0",'
        ' "_source": "billing.raw"}',
        # missing fields -> typed nulls
        '{"user_id": "9", "billing_period": "2024-02",'
        ' "_source": "billing.raw"}',
    ]

    def _run(self, spark, tmp):
        raw_dir = os.path.join(tmp, "raw")
        os.makedirs(raw_dir, exist_ok=True)
        with open(os.path.join(raw_dir, "batch0.json"), "w") as fh:
            fh.write("\n".join(self.RAW_RECORDS) + "\n")
        self._ingest(spark, tmp)
        return spark.read.parquet(os.path.join(tmp, "bronze"))

    @staticmethod
    def _ingest(spark, tmp):
        """One availableNow run of the billing bronze stream over
        ``tmp/raw`` on the checkpoint ``tmp/ckpt``."""
        from big_data_for_smart_houses_spark.streaming.ingest import (
            billing_bronze_stream,
            run_available_now,
        )

        run_available_now(
            billing_bronze_stream(
                spark, os.path.join(tmp, "raw"), os.path.join(tmp, "bronze")
            ),
            os.path.join(tmp, "ckpt"),
            120,
        )

    def test_conform_drops_metadata_and_recovers_types(self, spark, tmp_path):
        from big_data_for_smart_houses_spark.schemas import BILLING_SCHEMA

        bronze = self._run(spark, str(tmp_path))
        # bronze carries exactly the published statement schema plus
        # the ingestion stamp (the partition column round-trips;
        # producer metadata is gone)
        assert set(bronze.columns) == {
            f.name for f in BILLING_SCHEMA.fields
        } | {"ingestion_time"}
        rows = {r["user_id"]: r for r in bronze.collect()}
        assert set(rows) == {"7", "8", "9"}
        assert rows["7"]["energy_rate_kwh"] == 0.12
        assert rows["7"]["total_cost"] == 69.06
        # type drift -> field nulled, row kept
        assert rows["8"]["energy_rate_kwh"] is None
        assert rows["8"]["base_charge"] == 10.0
        # missing fields -> typed nulls
        assert rows["9"]["total_cost"] is None
        assert rows["9"]["billing_period"] == "2024-02"

    def test_rerun_on_same_checkpoint_is_exactly_once(self, spark, tmp_path):
        tmp = str(tmp_path)
        first = self._run(spark, tmp).count()
        assert first == len(self.RAW_RECORDS)
        # second start() on the SAME checkpoint: the file source's
        # commit log says every staged file is already ingested, so
        # the run drains without appending a single duplicate row
        self._ingest(spark, tmp)
        assert (
            spark.read.parquet(os.path.join(tmp, "bronze")).count() == first
        )
        # ...and a NEW statement file arriving after the restart IS
        # picked up (the incremental half of exactly-once)
        with open(os.path.join(tmp, "raw", "batch1.json"), "w") as fh:
            fh.write(
                '{"user_id": "10", "billing_period": "2024-03",'
                ' "energy_rate_kwh": "0.1", "base_charge": "5.0",'
                ' "total_usage_kwh": "1.0", "total_cost": "5.1",'
                ' "_source": "billing.raw"}\n'
            )
        self._ingest(spark, tmp)
        assert (
            spark.read.parquet(os.path.join(tmp, "bronze")).count()
            == first + 1
        )


class TestCleanStatements:
    """The billing SILVER step (operators/billing.clean_statements):
    required-key validation + supersede-dedup, mirroring the
    telemetry bronze->silver contract on the statement table."""

    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows,
            schema=(
                "user_id string, billing_period string, "
                "energy_rate_kwh double, base_charge double, "
                "total_usage_kwh double, total_cost double, "
                "ingestion_time string"
            ),
        )

    def test_drops_rows_missing_join_keys(self, spark):
        from big_data_for_smart_houses_spark.operators.billing import (
            clean_statements,
        )

        df = self._df(
            spark,
            [
                ("u1", "2024-01", 0.1, 5.0, 10.0, 6.0, "t1"),
                (None, "2024-01", 0.1, 5.0, 10.0, 6.0, "t1"),
                ("u2", None, 0.1, 5.0, 10.0, 6.0, "t1"),
            ],
        )
        out = clean_statements(df).collect()
        assert [(r["user_id"], r["billing_period"]) for r in out] == [
            ("u1", "2024-01")
        ]
        # the ingestion stamp is silver-internal, never emitted
        assert "ingestion_time" not in clean_statements(df).columns

    def test_reissued_statement_supersedes(self, spark):
        from big_data_for_smart_houses_spark.operators.billing import (
            clean_statements,
        )

        df = self._df(
            spark,
            [
                # original bill, then a corrected reissue one batch
                # later: the reissue must win
                ("u1", "2024-01", 0.10, 5.0, 10.0, 6.00, "2024-02-01"),
                ("u1", "2024-01", 0.10, 5.0, 12.0, 6.20, "2024-02-09"),
                # an untouched statement for another period survives
                ("u1", "2024-02", 0.10, 5.0, 11.0, 6.10, "2024-03-01"),
            ],
        )
        out = {
            (r["user_id"], r["billing_period"]): r
            for r in clean_statements(df).collect()
        }
        assert len(out) == 2
        assert out[("u1", "2024-01")]["total_cost"] == 6.20
        assert out[("u1", "2024-02")]["total_cost"] == 6.10

    def test_nulled_numeric_fields_are_kept(self, spark):
        from big_data_for_smart_houses_spark.operators.billing import (
            clean_statements,
        )

        # P2 type drift arrives as NULL numerics from bronze conform:
        # the statement must survive cleaning so reconciliation can
        # report it as unreconcilable instead of losing it
        df = self._df(
            spark,
            [("u1", "2024-01", None, None, None, None, "t1")],
        )
        out = clean_statements(df).collect()
        assert len(out) == 1 and out[0]["energy_rate_kwh"] is None
