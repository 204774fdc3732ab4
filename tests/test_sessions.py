"""Sessionization tests: batch gap-split operator (operators/sessions),
the applyInPandasWithState streaming tracker (streaming/stateful), and
the watermarked streaming rollup (streaming/aggregates)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from big_data_for_smart_houses_spark.operators.sessions import sessionize
from big_data_for_smart_houses_spark.streaming.aggregates import (
    windowed_energy_rollup,
)
from big_data_for_smart_houses_spark.streaming.stateful import (
    track_device_sessions,
)

T0 = dt.datetime(2025, 7, 20, 10, 0, 0)


def _ts_df(spark, rows):
    schema = StructType(
        [
            StructField("device_id", StringType()),
            StructField("timestamp", TimestampType()),
        ]
    )
    return spark.createDataFrame(
        [(d, T0 + dt.timedelta(seconds=s)) for d, s in rows], schema
    )


def test_sessionize_batch_gap_split(spark):
    df = _ts_df(
        spark,
        [
            ("a", 0),
            ("a", 10),
            ("a", 400),  # > 300 s after 10 -> new session
            ("a", 500),
            ("b", 0),
        ],
    )
    out = {
        (r.device_id, r.session_seq): r
        for r in sessionize(df, gap_seconds=300).collect()
    }
    assert len(out) == 3
    s1 = out[("a", 1)]
    assert s1.n_events == 2 and s1.duration_s == 10.0
    s2 = out[("a", 2)]
    assert s2.n_events == 2 and s2.session_start == T0 + dt.timedelta(seconds=400)
    assert out[("b", 1)].n_events == 1 and out[("b", 1)].duration_s == 0.0


def test_sessionize_single_shuffle(spark):
    df = _ts_df(spark, [("a", 0), ("a", 10)])
    plan = (
        sessionize(df, gap_seconds=300)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_stateful_session_tracker_across_restarts(spark, tmp_path):
    tmp = str(tmp_path)
    schema = StructType(
        [
            StructField("device_id", StringType()),
            StructField("timestamp", TimestampType()),
        ]
    )

    def run():
        collected = []
        stream = spark.readStream.schema(schema).parquet(f"{tmp}/staged")
        q = (
            track_device_sessions(stream, gap_seconds=300)
            .writeStream.foreachBatch(
                lambda df, _epoch: collected.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return collected

    batch1 = _ts_df(spark, [("a", 0), ("a", 10), ("a", 400), ("b", 0)])
    batch1.write.mode("append").parquet(f"{tmp}/staged")
    out1 = run()
    # the (0..10) session is gap-closed by 400 but NOT yet final —
    # an admissible event down to 400 - gap = 100 could still bridge
    # it (safe-closure frontier is max - 2*gap = -200): nothing emits
    assert out1 == []

    batch2 = _ts_df(spark, [("a", 1000)])
    batch2.write.mode("append").parquet(f"{tmp}/staged")
    out2 = run()
    # state survived the restart: frontier 1000 - 600 = 400 finalizes
    # (0..10); (400) sits exactly ON the frontier (strict <) and holds
    assert len(out2) == 1
    assert out2[0].device_id == "a" and out2[0].n_events == 2
    assert out2[0].session_end == T0 + dt.timedelta(seconds=10)

    batch3 = _ts_df(spark, [("a", 1800)])
    batch3.write.mode("append").parquet(f"{tmp}/staged")
    out3 = run()
    # second restart: frontier 1200 finalizes both (400) and (1000)
    got = sorted(
        (r.session_start, r.n_events) for r in out3 if r.device_id == "a"
    )
    assert got == [
        (T0 + dt.timedelta(seconds=400), 1),
        (T0 + dt.timedelta(seconds=1000), 1),
    ]


def test_windowed_rollup_watermark_drops_late(spark, tmp_path):
    tmp = str(tmp_path)
    schema = StructType(
        [
            StructField("device_id", StringType()),
            StructField("timestamp", TimestampType()),
            StructField("energy_consumption_wh", DoubleType()),
            StructField("power_usage", DoubleType()),
        ]
    )

    def mk(rows):
        return spark.createDataFrame(
            [
                (d, dt.datetime.fromisoformat(ts), e, p)
                for d, ts, e, p in rows
            ],
            schema,
        )

    def run():
        collected = []
        stream = spark.readStream.schema(schema).parquet(f"{tmp}/staged")
        q = (
            windowed_energy_rollup(stream)
            .writeStream.foreachBatch(
                lambda df, _epoch: collected.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return collected

    mk(
        [
            ("d1", "2025-07-20T10:00:00", 10.0, 100.0),
            ("d1", "2025-07-20T11:00:00", 20.0, 300.0),
        ]
    ).write.mode("append").parquet(f"{tmp}/staged")
    out1 = run()
    assert len(out1) == 1
    r = out1[0]
    assert r.energy_wh_sum == 30.0 and r.power_max == 300.0 and r.n_readings == 2

    # second run: watermark from run 1 is 2025-07-18T11 (max - 48 h);
    # the 2025-07-17 event is behind it -> dropped from the aggregate,
    # while the on-time 2025-07-25 event lands normally
    mk(
        [
            ("d1", "2025-07-17T09:00:00", 999.0, 999.0),
            ("d1", "2025-07-25T09:00:00", 5.0, 50.0),
        ]
    ).write.mode("append").parquet(f"{tmp}/staged")
    out2 = run()
    days = {str(r.window_start)[:10]: r for r in out2}
    assert "2025-07-17" not in days
    assert days["2025-07-25"].energy_wh_sum == 5.0


def test_asof_join_edges(spark):
    from big_data_for_smart_houses_spark.operators.joins import asof_join

    left = _ts_df(spark, [("a", 100), ("a", 200), ("b", 50)]).withColumnRenamed(
        "timestamp", "ts"
    ).withColumnRenamed("device_id", "k")
    right = (
        _ts_df(spark, [("a", 100), ("a", 150), ("b", 60)])
        .withColumnRenamed("timestamp", "ts")
        .withColumnRenamed("device_id", "k")
        .withColumn("payload", F.unix_timestamp("ts"))
    )
    out = {
        (r.k, int((r.ts - T0).total_seconds())): r
        for r in asof_join(left, right, on="k", right_cols=["payload"]).collect()
    }
    # equal timestamps match (inclusive <=)
    assert out[("a", 100)].ts_asof == T0 + dt.timedelta(seconds=100)
    # latest at-or-before, not just any earlier row
    assert out[("a", 200)].ts_asof == T0 + dt.timedelta(seconds=150)
    # no prior right row -> nulls, row preserved (left join semantics)
    assert out[("b", 50)].ts_asof is None and out[("b", 50)].payload is None


def test_range_join_containment_and_buckets(spark):
    """Inclusive bounds, cross-bucket intervals, and no duplicate
    matches when an interval spans many buckets."""
    from big_data_for_smart_houses_spark.operators.joins import range_join

    left = _ts_df(
        spark, [("a", 0), ("a", 100), ("a", 7200), ("a", 7201), ("b", 50)]
    ).withColumnRenamed("timestamp", "ts").withColumnRenamed("device_id", "k")
    # interval [0s, 7200s] spans 3 one-hour buckets; b has no interval
    right = spark.createDataFrame(
        [("a", T0, T0 + dt.timedelta(seconds=7200), "iv1")],
        ["k", "start", "end", "label"],
    )
    rows = range_join(
        left, right, on="k", left_ts="ts",
        start_col="start", end_col="end", bucket_seconds=3600,
    ).collect()
    matched = sorted(int((r.ts - T0).total_seconds()) for r in rows)
    # 0 and 7200 are inclusive; 7201 is out; b unmatched (inner join)
    assert matched == [0, 100, 7200]
    assert all(r.label == "iv1" for r in rows)
    assert len(rows) == 3  # exactly one match per (row, interval)


def test_asof_join_overlapping_payload_name(spark):
    """A right payload column whose name also exists on the left must
    fill from RIGHT rows only — the left row's own non-null value must
    never leak into the <col>_asof output (operators/joins.py private
    _r_ prefix)."""
    from big_data_for_smart_houses_spark.operators.joins import asof_join

    left = (
        _ts_df(spark, [("a", 100), ("a", 200), ("b", 50)])
        .withColumnRenamed("timestamp", "ts")
        .withColumnRenamed("device_id", "k")
        .withColumn("payload", F.lit(-1.0))  # overlapping name, non-null
    )
    right = (
        _ts_df(spark, [("a", 90), ("a", 150)])
        .withColumnRenamed("timestamp", "ts")
        .withColumnRenamed("device_id", "k")
        .withColumn("payload", F.unix_timestamp("ts").cast("double"))
    )
    rows = {
        (r.k, int((r.ts - T0).total_seconds())): r
        for r in asof_join(left, right, on="k", right_cols=["payload"]).collect()
    }
    t90 = (T0 + dt.timedelta(seconds=90)).timestamp()
    t150 = (T0 + dt.timedelta(seconds=150)).timestamp()
    # left's own payload (-1.0) is preserved untouched...
    assert all(r.payload == -1.0 for r in rows.values())
    # ...and payload_asof comes from the latest right row, never from
    # the left row's -1.0
    assert rows[("a", 100)].payload_asof == t90
    assert rows[("a", 200)].payload_asof == t150
    assert rows[("b", 50)].payload_asof is None


def test_streaming_ewma_matches_batch_across_restarts(spark, tmp_path):
    from big_data_for_smart_houses_spark.operators.windows import ewma_smooth
    from big_data_for_smart_houses_spark.streaming.stateful import ewma_stream

    tmp = str(tmp_path)
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("event_id", LongType()),
        ]
    )

    def run():
        collected = []
        stream = spark.readStream.schema(schema).parquet(f"{tmp}/staged")
        q = (
            ewma_stream(stream)
            .writeStream.foreachBatch(
                lambda df, _epoch: collected.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return collected

    def rows_df(rows):
        return spark.createDataFrame(
            [(u, T0 + dt.timedelta(seconds=s), float(v), eid)
             for u, s, v, eid in rows],
            schema,
        )

    batch1 = [(1, 0, 10.0, 100), (1, 60, 20.0, 101), (2, 0, 8.0, 102)]
    rows_df(batch1).write.mode("append").parquet(f"{tmp}/staged")
    out1 = {r.event_id: r.ewma for r in run()}
    assert out1[100] == 10.0
    assert out1[101] == 0.25 * 20.0 + 0.75 * 10.0

    # second run restarts the query from the checkpoint: the
    # recurrence must CONTINUE from user 1's carried state, not reset
    batch2 = [(1, 120, 40.0, 103)]
    rows_df(batch2).write.mode("append").parquet(f"{tmp}/staged")
    out2 = {r.event_id: r.ewma for r in run()}
    assert set(out2) == {103}
    assert out2[103] == 0.25 * 40.0 + 0.75 * out1[101]

    # and the stream's full history equals the batch operator's answer
    # (modulo the batch op's float32 gate quantization)
    batch_all = ewma_smooth(rows_df(batch1 + batch2))
    import numpy as np

    expect = {r.event_id: r.ewma for r in batch_all.collect()}
    got = {**out1, **out2}
    assert set(got) == set(expect)
    for eid, v in expect.items():
        assert abs(got[eid] - v) <= abs(float(np.float32(got[eid])) - got[eid]) + 1e-12


def test_streaming_locf_matches_batch_closed_buckets(spark, tmp_path):
    """locf_stream == batch gap_fill_locf minus each key's final
    (still-open) bucket; the recurrence survives a checkpoint restart
    and carries gap values across micro-batches."""
    from big_data_for_smart_houses_spark.operators.stats import gap_fill_locf
    from big_data_for_smart_houses_spark.streaming.stateful import locf_stream

    tmp = str(tmp_path)
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )

    def run():
        collected = []
        stream = spark.readStream.schema(schema).parquet(f"{tmp}/staged")
        q = (
            locf_stream(stream)
            .writeStream.foreachBatch(
                lambda df, _epoch: collected.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return collected

    def rows_df(rows):
        return spark.createDataFrame(
            [(u, T0 + dt.timedelta(hours=h), float(v)) for u, h, v in rows],
            schema,
        )

    # user 1: hours 0 and 3 -> closing bucket 0 emits gaps 1,2
    batch1 = [(1, 0, 10.0), (1, 3, 40.0), (2, 0, 5.0)]
    rows_df(batch1).write.mode("append").parquet(f"{tmp}/staged")
    out1 = {(r.user_id, r.bucket_time): (r.value, r.is_gap) for r in run()}
    h = lambda k: T0 + dt.timedelta(hours=k)
    assert out1 == {
        (1, h(0)): (10.0, False),
        (1, h(1)): (10.0, True),
        (1, h(2)): (10.0, True),
    }

    # restart: user 1's open bucket (hour 3) closes when hour 5
    # arrives -> emits (3, obs) + (4, gap); user 2 still withheld
    batch2 = [(1, 5, 50.0)]
    rows_df(batch2).write.mode("append").parquet(f"{tmp}/staged")
    out2 = {(r.user_id, r.bucket_time): (r.value, r.is_gap) for r in run()}
    assert out2 == {
        (1, h(3)): (40.0, False),
        (1, h(4)): (40.0, True),
    }

    # batch parity: stream output == batch operator minus the final
    # open bucket per key
    batch_df = rows_df(batch1 + batch2)
    full = {
        (r["key"], r["bucket_time"]): (r["value"], r["is_gap"])
        for r in gap_fill_locf(
            batch_df.withColumnRenamed("user_id", "key"), "key", "ts", "value"
        ).collect()
    }
    open_buckets = {(1, h(5)), (2, h(0))}
    expect = {k: v for k, v in full.items() if k not in open_buckets}
    assert {**out1, **out2} == expect


def test_streaming_locf_in_bucket_last_wins(spark, tmp_path):
    """Two observations in one bucket across micro-batches: the later
    one is the value the closing emit carries."""
    from big_data_for_smart_houses_spark.streaming.stateful import locf_stream

    tmp = str(tmp_path)
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )

    def run():
        collected = []
        stream = spark.readStream.schema(schema).parquet(f"{tmp}/staged")
        q = (
            locf_stream(stream)
            .writeStream.foreachBatch(
                lambda df, _epoch: collected.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return collected

    def stage(rows):
        spark.createDataFrame(
            [(u, T0 + dt.timedelta(minutes=m), float(v)) for u, m, v in rows],
            schema,
        ).write.mode("append").parquet(f"{tmp}/staged")

    stage([(7, 0, 1.0), (7, 30, 2.0)])
    assert run() == []
    stage([(7, 40, 3.0), (7, 90, 9.0)])
    out = run()
    assert len(out) == 1
    r = out[0]
    assert (r.user_id, r.bucket_time, r.value, r.is_gap) == (
        7,
        T0,
        3.0,
        False,
    )


class _FakeGroupState:
    """Minimal stand-in for pyspark GroupState: exists/get/update."""

    def __init__(self, value=None):
        self._value = value

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = tuple(value)


def test_ewma_fold_order_across_arrow_chunks():
    """Arrow may split one key's micro-batch into several chunks with
    no cross-chunk ordering. The fold must sort the WHOLE group, not
    each chunk: a later chunk carrying earlier timestamps used to fold
    out of order (same hazard as _locf_fn's silent drop)."""
    import pandas as pd

    from big_data_for_smart_houses_spark.streaming.stateful import _ewma_fn

    def chunk(rows):
        return pd.DataFrame(
            {
                "user_id": [1] * len(rows),
                "event_id": [e for e, _, _ in rows],
                "ts": [T0 + dt.timedelta(seconds=s) for _, s, _ in rows],
                "value": [float(v) for _, _, v in rows],
            }
        )

    # chunk 2 holds the EARLIEST event: per-chunk sorting would fold
    # 10.0 last instead of first
    chunks = [
        chunk([(101, 60, 20.0), (102, 120, 40.0)]),
        chunk([(100, 0, 10.0)]),
    ]
    state = _FakeGroupState()
    (out,) = list(_ewma_fn(0.25)((1,), iter(chunks), state))
    got = dict(zip(out["event_id"], out["ewma"]))
    e100 = 10.0
    e101 = 0.25 * 20.0 + 0.75 * e100
    e102 = 0.25 * 40.0 + 0.75 * e101
    assert got == {100: e100, 101: e101, 102: e102}
    assert state.get[0] == e102


def test_locf_fold_no_drop_across_arrow_chunks():
    """A later Arrow chunk with an earlier timestamp must NOT hit the
    late-event drop branch — the group is sorted as one unit."""
    import pandas as pd

    from big_data_for_smart_houses_spark.streaming.stateful import _locf_fn

    def chunk(rows):
        return pd.DataFrame(
            {
                "user_id": [1] * len(rows),
                "ts": [T0 + dt.timedelta(minutes=m) for m, _ in rows],
                "value": [float(v) for _, v in rows],
            }
        )

    # chunk 2's minute-10 row lands in the FIRST hour bucket; with
    # per-chunk sorting the open bucket is already hour 2 and the row
    # would be silently dropped, losing the in-bucket max tie-rule win
    chunks = [
        chunk([(0, 1.0), (130, 9.0)]),
        chunk([(10, 5.0)]),
    ]
    state = _FakeGroupState()
    (out,) = list(_locf_fn(3600)((1,), iter(chunks), state))
    rows = list(
        zip(out["bucket_time"], out["value"], out["is_gap"])
    )
    assert rows == [
        (pd.Timestamp(T0), 5.0, False),
        (pd.Timestamp(T0 + dt.timedelta(hours=1)), 5.0, True),
    ]
    # open bucket carries the minute-130 observation
    assert state.get[2] == 9.0


def test_locf_state_merge_tie_polarity():
    """The carried state merges with a same-bucket incoming winner
    under the batch operator's exact predicate: the incoming row
    replaces the state ONLY when strictly greater by (ts, value).
    The polarity matters beyond ties: a NaN value compares False in
    BOTH directions, so the carried state must win then too (the
    round-12 vectorization briefly inverted this — an equal-ts
    NaN-value row would have displaced the state)."""
    import math

    import pandas as pd

    from big_data_for_smart_houses_spark.streaming.stateful import _locf_fn

    bucket0_s = int(T0.timestamp())
    bucket0_s = (bucket0_s // 3600) * 3600
    state_ts_us = int(T0.timestamp() * 1_000_000)

    def run(rows, state_tuple):
        state = _FakeGroupState(state_tuple)
        chunks = [pd.DataFrame({
            "user_id": [1] * len(rows),
            "ts": [t for t, _ in rows],
            "value": [v for _, v in rows],
        })]
        list(_locf_fn(3600)((1,), iter(chunks), state))
        return state.get

    # equal (ts, value): state survives unchanged (no-op either way)
    got = run([(T0, 7.0)], (bucket0_s, state_ts_us, 7.0))
    assert got == (bucket0_s, state_ts_us, 7.0)

    # strictly greater value at the same ts: incoming wins
    got = run([(T0, 9.0)], (bucket0_s, state_ts_us, 7.0))
    assert got[2] == 9.0

    # strictly smaller value at the same ts: state wins
    got = run([(T0, 3.0)], (bucket0_s, state_ts_us, 7.0))
    assert got[2] == 7.0

    # NaN value at the same ts: comparison is False both ways —
    # the carried state must win (the scalar fold's behavior)
    got = run([(T0, float("nan"))], (bucket0_s, state_ts_us, 7.0))
    assert got[2] == 7.0 and not math.isnan(got[2])


def test_timeout_session_fold_offline():
    """The EventTimeTimeout fold in isolation, across the full
    watermark lifecycle: a gap-closed session stays PENDING until the
    watermark proves it final (end + gap < wm), the timeout is set to
    the earliest pending finality instant (ms epoch), a firing emits
    only the watermark-safe prefix ('gap' for non-tail sessions) and
    re-arms, and the last firing emits the tail as 'timeout' then
    removes state — no re-fire, no resurrection."""
    import pandas as pd

    from big_data_for_smart_houses_spark.streaming.stateful import (
        _track_sessions_timeout,
    )

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False
            self.timeout_ms = None
            self.wm_ms = 0

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return self.wm_ms

    fn = _track_sessions_timeout(100)
    pdf = pd.DataFrame({"ts": pd.to_datetime([1.0, 1000.0], unit="s")})
    state = FakeState()
    out = list(fn((4,), iter([pdf]), state))
    # wm=0: even the gap-closed (1 s) session is not yet final —
    # both pending, timeout armed at the EARLIEST finality instant
    assert out == []
    assert state.get == (
        [1_000_000, 1_000_000_000],
        [1_000_000, 1_000_000_000],
        [1, 1],
    )
    assert state.timeout_ms == 101_000  # 1 s + 100 s gap, in ms

    state.hasTimedOut = True
    state.wm_ms = 500_000
    fired = list(fn((4,), iter([]), state))
    # wm=500 s finalizes the 1 s session only; tail re-armed
    assert len(fired) == 1 and list(fired[0]["closed_by"]) == ["gap"]
    assert int(fired[0]["n_events"].iloc[0]) == 1
    assert state.get == ([1_000_000_000], [1_000_000_000], [1])
    assert state.timeout_ms == 1_100_000  # 1000 s + 100 s gap

    state.wm_ms = 2_000_000
    fired = list(fn((4,), iter([]), state))
    assert len(fired) == 1 and list(fired[0]["closed_by"]) == ["timeout"]
    assert int(fired[0]["n_events"].iloc[0]) == 1
    assert not state.exists  # removed — no re-fire, no resurrection


def test_timeout_label_is_emission_time_metadata():
    """Pins the multi-batch divergence shape that makes ``closed_by``
    un-hashable (round-10 advice): a key whose state fully DRAINS
    ('timeout' emitted, state removed) and then receives admissible
    data forming a newer session carries TWO 'timeout' rows — the
    label records the emission-time lifecycle fact (state drained),
    not the whole-corpus retrodiction (a bounded replay would call
    the first session 'gap' because a later session exists). If this
    test starts failing, the label semantics changed and the gate
    docstring + oracle exclusion in queries/streaming_gate.py must be
    revisited together."""
    import pandas as pd

    from big_data_for_smart_houses_spark.streaming.stateful import (
        _track_sessions_timeout,
    )

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False
            self.timeout_ms = None
            self.wm_ms = 0

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return self.wm_ms

    fn = _track_sessions_timeout(100)
    state = FakeState()
    # batch 1: one event at 1 s; wm=0 → pending
    pdf = pd.DataFrame({"ts": pd.to_datetime([1.0], unit="s")})
    assert list(fn((7,), iter([pdf]), state)) == []
    # timeout fires at wm=500 s: session final, state DRAINS
    state.hasTimedOut = True
    state.wm_ms = 500_000
    first = list(fn((7,), iter([]), state))
    assert len(first) == 1
    assert list(first[0]["closed_by"]) == ["timeout"]
    assert not state.exists
    # batch 2: admissible event at 1000 s (> wm) → NEW session
    state.hasTimedOut = False
    pdf2 = pd.DataFrame({"ts": pd.to_datetime([1000.0], unit="s")})
    assert list(fn((7,), iter([pdf2]), state)) == []
    assert state.exists
    # final timeout: the newer session also drains as 'timeout'
    state.hasTimedOut = True
    state.wm_ms = 2_000_000
    second = list(fn((7,), iter([]), state))
    assert len(second) == 1
    assert list(second[0]["closed_by"]) == ["timeout"]
    assert not state.exists
    # the divergence: two 'timeout' rows for one key — a whole-corpus
    # replay would label the 1 s session 'gap'
    labels = list(first[0]["closed_by"]) + list(second[0]["closed_by"])
    assert labels == ["timeout", "timeout"]


def test_timeout_sessions_stream_boundary(spark, tmp_path):
    """EventTimeTimeout boundary semantics on a real availableNow
    run, pinned for the gate oracle's closure predicate: a timeout at
    EXACTLY the final watermark does NOT fire (strict >), one below
    fires, one above holds. gap=100 s, delay=50 s, max ts=1000 s →
    wm=950 s; users 1/2/3 have single events at 850/840/860 s
    (timeouts 950/940/960), user 4's pair (1 s, 1000 s) gap-closes
    in the data batch."""
    from big_data_for_smart_houses_spark.streaming.stateful import (
        track_sessions_timeout,
    )

    rows = [(1, 850.0), (2, 840.0), (3, 860.0), (4, 1.0), (4, 1000.0)]
    df = spark.createDataFrame(
        rows, "user_id long, sec double"
    ).select("user_id", F.timestamp_seconds("sec").alias("ts"))
    tmp = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/staged")
    stream = (
        spark.readStream.schema(df.schema)
        .parquet(f"{tmp}/staged")
        .withWatermark("ts", "50 seconds")
    )
    q = (
        track_sessions_timeout(stream, 100)
        .writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["user_id"], r["closed_by"])
        for r in spark.read.parquet(f"{tmp}/out").collect()
    }
    assert got == {(2, "timeout"), (4, "gap")}


def test_asof_join_nearest_contract(spark):
    """Nearest mode: closest right row either direction; equal
    distance -> backward; forward-only match works; keys with no
    right rows keep NULLs and a NULL direction."""
    import datetime as dt

    from big_data_for_smart_houses_spark.operators.joins import (
        asof_join_nearest,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    left = spark.createDataFrame(
        [
            ("a", ts(100), "L1"),  # clicks at 90 & 105 -> forward (5<10)
            ("a", ts(200), "L2"),  # clicks at 195 & 205 -> TIE -> backward
            ("b", ts(50), "L3"),   # only click at 80 -> forward-only
            ("c", ts(10), "L4"),   # no clicks at all -> NULLs
        ],
        "k string, lts timestamp, lid string",
    )
    right = spark.createDataFrame(
        [
            ("a", ts(90), "R90"),
            ("a", ts(105), "R105"),
            ("a", ts(195), "R195"),
            ("a", ts(205), "R205"),
            ("b", ts(80), "R80"),
        ],
        "k string, rts timestamp, rid string",
    )
    out = {
        r.lid: (r.rid, r.asof_direction)
        for r in asof_join_nearest(
            left, right, on="k", left_ts="lts", right_ts="rts",
            right_cols=["rid"],
        ).collect()
    }
    assert out["L1"] == ("R105", "forward")
    assert out["L2"] == ("R195", "backward")
    assert out["L3"] == ("R80", "forward")
    assert out["L4"] == (None, None)


def test_sessions_cross_chunk_out_of_order():
    """A key's micro-batch may span several Arrow chunks; the gap
    walk must behave as if the key's events were concatenated and
    sorted ONCE. Chunk 2 here holds timestamps EARLIER than chunk 1 —
    per-chunk sorting would close a phantom session and split the
    real one."""
    import pandas as pd

    from big_data_for_smart_houses_spark.streaming.stateful import (
        _track_sessions,
    )

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

    fn = _track_sessions(100)
    # global order: 1, 50, 90, 1000 → one closed session [1, 90] (3
    # events, final: 90 < 1000 - 2*100), open tail at 1000. Chunked
    # as [90, 1000] + [1, 50]: per-chunk walks would emit [90, 90]
    # then misplace the rest.
    c1 = pd.DataFrame(
        {"timestamp": pd.to_datetime([90.0, 1000.0], unit="s")}
    )
    c2 = pd.DataFrame({"timestamp": pd.to_datetime([1.0, 50.0], unit="s")})
    state = FakeState()
    out = list(fn(("d1",), iter([c1, c2]), state))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert row["session_start"] == pd.Timestamp(1.0, unit="s")
    assert row["session_end"] == pd.Timestamp(90.0, unit="s")
    assert int(row["n_events"]) == 3
    assert state.get == ([1_000_000_000], [1_000_000_000], [1])


def test_sessions_out_of_order_min_folds_session_start():
    """An out-of-order event above the watermark can land BEFORE the
    restored session start; the within-gap branch must min-fold
    start_us so session_start is the true earliest event."""
    import pandas as pd

    from big_data_for_smart_houses_spark.streaming.stateful import (
        _track_sessions_timeout,
    )

    class FakeState:
        def __init__(self, v):
            self._v = v
            self.hasTimedOut = False
            self.timeout_ms = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return 0

    fn = _track_sessions_timeout(100)
    # restored open session [100 s, 100 s]; a 60 s event arrives
    # (within gap of 100 s looking backward) — the open session must
    # become [60 s, 100 s] with 2 events, not keep start at 100 s.
    state = FakeState(([100_000_000], [100_000_000], [1]))
    pdf = pd.DataFrame({"ts": pd.to_datetime([60.0], unit="s")})
    out = list(fn((7,), iter([pdf]), state))
    assert out == []
    assert state.get == ([60_000_000], [100_000_000], [2])


def test_timeout_tracker_state_survives_crash_restart(spark, tmp_path):
    """Crash-recovery for the round-9 pending-interval LIST state: the
    timeout tracker's two-batch planted run is killed by an injected
    foreachBatch failure AFTER batch 0 committed its offsets and
    Arrow-serialized the array-typed state; the restarted query must
    restore every key's pending intervals, replay batch 1 (the
    bridging event), and finish with EXACTLY the rows and final state
    of an uninterrupted run — lost or corrupted array state would
    double-emit, drop the bridge merge, or resurrect removed keys."""
    import os

    from pyspark.errors import StreamingQueryException

    from big_data_for_smart_houses_spark.streaming.stateful import (
        track_sessions_timeout,
    )

    # user 1's first event sits at 5 s, NOT epoch 0: the operator's
    # own late-drop (ts <= watermark, initial wm = 0) would silently
    # eat a t=0 row — the documented epoch-0 edge
    rows_b1 = [(1, 5.0), (1, 10.0), (2, 840.0), (3, 5000.0), (3, 6801.0)]
    rows_b2 = [(3, 6500.0)]  # bridges 3's gap-closed (5000) to (6801)

    def stage(tmp):
        staged = f"{tmp}/staged"
        for i, rows in enumerate((rows_b1, rows_b2)):
            df = spark.createDataFrame(
                rows, "user_id long, sec double"
            ).select("user_id", F.timestamp_seconds("sec").alias("ts"))
            p = f"{staged}/half={i}"
            df.coalesce(1).write.parquet(p)
            for root, _d, files in os.walk(p):
                for fname in files:
                    os.utime(
                        os.path.join(root, fname), (1000 + i, 1000 + i)
                    )
        return staged

    def run(tmp, crash_once):
        staged = stage(tmp)
        out_dir = f"{tmp}/out"
        marker = f"{tmp}/crashed"
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(staged)
            .withWatermark("ts", "600 seconds")
        )

        def sink(batch_df, batch_id):
            if crash_once and batch_id == 1 and not os.path.exists(marker):
                with open(marker, "w") as fh:
                    fh.write("x")
                raise RuntimeError("injected crash at batch 1")
            batch_df.write.mode("overwrite").parquet(
                f"{out_dir}/batch={batch_id}"
            )

        def start():
            return (
                track_sessions_timeout(stream, 1800)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )

        q = start()
        if crash_once:
            try:
                q.awaitTermination(120)
                raise AssertionError("injected crash never fired")
            except StreamingQueryException:
                pass
            assert os.path.exists(marker)
            q = start()
        assert q.awaitTermination(300)
        rows = sorted(
            (
                r.user_id,
                r.session_start,
                r.session_end,
                r.n_events,
                r.closed_by,
            )
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(out_dir)
            .collect()
        )
        state = sorted(
            (r["key"]["user_id"], tuple(r["value"]["groupState"]["starts_us"]),
             tuple(r["value"]["groupState"]["lasts_us"]),
             tuple(r["value"]["groupState"]["counts"]))
            for r in spark.read.format("statestore")
            .option("path", f"{tmp}/ckpt")
            .load()
            .collect()
        )
        return rows, state

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        clean = run(f"{tmp_path}/clean", False)
        crashed = run(f"{tmp_path}/crash", True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert crashed == clean
    rows, state = clean
    # wm_final = 6801 - 600 = 6201 s: user 1's island (0,10) is final
    # (10 + 1800 < 6201, non-tail would be 'gap' but it IS the tail ->
    # emitted by timeout), user 2's single event likewise; user 3's
    # bridged (5000..6801, 3 events) stays pending with nothing
    # emitted — the bridge merge across the crash boundary.
    assert [(u, n, c) for u, _s, _e, n, c in rows] == [
        (1, 2, "timeout"),
        (2, 1, "timeout"),
    ]
    assert state == [
        (3, (5_000_000_000,), (6_801_000_000,), (3,))
    ]


def test_ewma_drops_cross_batch_late_rows():
    """Round-10 review fix: the carried (ts, event_id) cursor now
    GUARDS the late-row hazard instead of being dead state. A second
    micro-batch delivering a row at or before the cursor drops it —
    folding it would poison every later ewma in an already-emitted
    append-mode prefix — while rows after the cursor fold normally."""
    import pandas as pd

    from big_data_for_smart_houses_spark.streaming.stateful import _ewma_fn

    def chunk(rows):
        return pd.DataFrame(
            {
                "user_id": [1] * len(rows),
                "event_id": [e for e, _, _ in rows],
                "ts": [T0 + dt.timedelta(seconds=s) for _, s, _ in rows],
                "value": [float(v) for _, _, v in rows],
            }
        )

    fn = _ewma_fn(0.25)
    state = _FakeGroupState()
    (b1,) = list(fn((1,), iter([chunk([(100, 0, 10.0), (101, 60, 20.0)])]), state))
    e100, e101 = 10.0, 0.25 * 20.0 + 0.75 * 10.0
    assert dict(zip(b1["event_id"], b1["ewma"])) == {100: e100, 101: e101}

    # batch 2: one LATE row (ts before the cursor), one equal to the
    # cursor (same ts AND event_id), one genuinely new
    (b2,) = list(
        fn((1,), iter([chunk([(99, 30, 99.0), (101, 60, 99.0), (102, 120, 40.0)])]), state)
    )
    e102 = 0.25 * 40.0 + 0.75 * e101
    assert dict(zip(b2["event_id"], b2["ewma"])) == {102: e102}
    assert state.get[0] == e102


def test_locf_gap_cap_raises_loudly():
    """Round-10 review fix: a months-stale open bucket meeting a new
    event would materialize one Python tuple per missing bucket in a
    single task (unbounded by anything). The cap fails loudly with
    the key and gap size instead of stalling the executor."""
    import pandas as pd
    import pytest as _pytest

    from big_data_for_smart_houses_spark.streaming.stateful import _locf_fn

    def chunk(rows):
        return pd.DataFrame(
            {
                "user_id": [1] * len(rows),
                "ts": [T0 + dt.timedelta(seconds=s) for s, _ in rows],
                "value": [float(v) for _, v in rows],
            }
        )

    fn = _locf_fn(60, max_gap_buckets=10)
    state = _FakeGroupState()
    list(fn((1,), iter([chunk([(0, 1.0)])]), state))
    # 5-bucket gap: fine
    list(fn((1,), iter([chunk([(6 * 60, 2.0)])]), state))
    # 600-bucket gap: over the cap of 10 -> loud failure
    with _pytest.raises(ValueError, match="max_gap_buckets"):
        list(fn((1,), iter([chunk([(610 * 60, 3.0)])]), state))


def test_ewma_drop_log_is_keyed_per_operator_instance():
    """Round-12 advice: the late-drop WARNING rate-limit counter must
    be keyed per operator instance, not per worker process — Spark
    reuses Python workers, so a shared counter would leave a freshly
    started stream's first drops pre-sampled at 1/1000 after 20
    lifetime occurrences anywhere. Each _ewma_fn closure carries a
    distinct token; the module dict keys by it."""
    from big_data_for_smart_houses_spark.streaming import stateful

    def token(fn):
        cells = dict(
            zip(fn.__code__.co_freevars,
                (c.cell_contents for c in fn.__closure__))
        )
        return cells["op_token"]

    f1 = stateful._ewma_fn(0.5)
    f2 = stateful._ewma_fn(0.5)
    assert token(f1) != token(f2)
    # the log dict keys by token, so two instances sample independently
    stateful._EWMA_DROP_LOG.clear()
    stateful._EWMA_DROP_LOG[token(f1)] = 21  # f1 already past first-20
    assert stateful._EWMA_DROP_LOG.get(token(f2), 0) == 0
    stateful._EWMA_DROP_LOG.clear()


def test_ewma_drop_log_is_bounded():
    """Round-13 advice: a long-lived reused worker accumulates one
    counter per stream definition/restart forever — the dict must cap
    (oldest-token eviction) so growth is bounded. Exercised through
    the real fold path: a late row on a fresh token past the cap must
    evict the oldest entry, never grow the dict."""
    import pandas as pd

    from big_data_for_smart_houses_spark.streaming import stateful

    stateful._EWMA_DROP_LOG.clear()
    try:
        for i in range(stateful._EWMA_DROP_LOG_MAX):
            stateful._EWMA_DROP_LOG[f"tok{i}"] = 1
        oldest = next(iter(stateful._EWMA_DROP_LOG))

        fn = stateful._ewma_fn(0.5)
        state = _FakeGroupState()
        state.update((1.0, 10_000_000, 5))  # cursor at ts=10s, eid=5
        late = pd.DataFrame(
            {
                "event_id": [1],
                "ts": [pd.Timestamp("1970-01-01 00:00:01")],
                "value": [2.0],
            }
        )
        list(fn((1,), iter([late]), state))  # drops -> logs -> counts

        assert len(stateful._EWMA_DROP_LOG) == stateful._EWMA_DROP_LOG_MAX
        assert oldest not in stateful._EWMA_DROP_LOG
    finally:
        stateful._EWMA_DROP_LOG.clear()
