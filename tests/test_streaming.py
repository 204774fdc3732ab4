"""Structured Streaming tests (SURVEY.md §5 item 5): rate-source
simulator, JSON parse/validate path, event-date partitioned bronze
sink, streaming-file-source incremental consumption."""

from __future__ import annotations

import json
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_for_smart_houses_spark.schemas import BRONZE_SCHEMA
from big_data_for_smart_houses_spark.streaming.ingest import (
    parse_telemetry_json,
    silver_stream_from_bronze_files,
    write_bronze_stream,
)
from big_data_for_smart_houses_spark.streaming.simulator import (
    telemetry_stream_from_rate,
)


def _good_msg(i: int, ts: str = "2025-07-20T10:00:00+00:00") -> str:
    return json.dumps(
        {
            "device_id": f"device_{i:03d}",
            "device_type": "thermostat",
            "user_id": "user_001",
            "timestamp": ts,
            "temperature": 22.5,
            "power_usage": 2000.0,
            "energy_consumption_wh": 33.3,
            "status": "online",
            "alert": "none",
            "location": "living_room",
            "manufacturer": "Nest",
            "model": "T100",
        }
    )


def test_parse_telemetry_validation(spark):
    bad_missing = json.dumps({"device_id": "device_001"})  # missing fields
    bad_numeric = _good_msg(2).replace("22.5", '"not-a-number"')
    bad_ts = _good_msg(3).replace("2025-07-20T10:00:00+00:00", "garbage")
    not_json = "{{{"
    rows = [(m,) for m in [_good_msg(1), bad_missing, bad_numeric, bad_ts, not_json]]
    raw = spark.createDataFrame(rows, ["value"])
    parsed = parse_telemetry_json(raw)
    out = parsed.collect()
    # only the fully-valid message survives (P1 semantics,
    # reference consumer/ingest_bronze.py:67-97)
    assert len(out) == 1
    assert out[0].device_id == "device_001"
    assert out[0].ingestion_time is not None


def test_rate_simulator_stream(spark):
    stream = telemetry_stream_from_rate(spark, rows_per_second=100)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("sim_test")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT count(*) FROM sim_test").collect()[0][0] > 0:
                break
            time.sleep(1)
        rows = spark.sql("SELECT * FROM sim_test").collect()
        assert len(rows) > 0
        r = rows[0]
        assert r.device_id.startswith("device_")
        assert r.device_type in {
            "thermostat",
            "smart_bulb",
            "smart_plug",
            "security_camera",
            "motion_sensor",
        }
        assert r.temperature is not None and r.power_usage is not None
        # ISO-8601 string timestamps, exactly like the producer
        assert "T" in r.timestamp
    finally:
        q.stop()


def test_bronze_sink_event_date_partitioning(spark):
    tmp = tempfile.mkdtemp()
    msgs = [
        (_good_msg(1, "2025-07-20T10:00:00+00:00"),),
        (_good_msg(2, "2025-07-21T11:00:00+00:00"),),
    ]
    raw = spark.createDataFrame(msgs, ["value"])
    # run the same transform the stream runs, then the streaming sink
    # via a one-batch file-source stream
    parsed = parse_telemetry_json(raw)
    parsed.write.mode("overwrite").parquet(f"{tmp}/staging")

    stream = spark.readStream.schema(parsed.schema).parquet(f"{tmp}/staging")
    q = write_bronze_stream(
        stream, f"{tmp}/bronze", f"{tmp}/ckpt", available_now=True
    )
    q.awaitTermination(60)

    bronze = spark.read.parquet(f"{tmp}/bronze")
    assert bronze.count() == 2
    dates = {str(r.event_date) for r in bronze.select("event_date").collect()}
    assert dates == {"2025-07-20", "2025-07-21"}

    # exactly-once: re-running the checkpointed query adds nothing (T6)
    stream2 = spark.readStream.schema(parsed.schema).parquet(f"{tmp}/staging")
    q2 = write_bronze_stream(
        stream2, f"{tmp}/bronze", f"{tmp}/ckpt", available_now=True
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(f"{tmp}/bronze").count() == 2


def test_kafka_wire_format_parity(spark):
    """S1/S2 integration minus only the broker PROCESS: records are
    built byte-identically to the reference producer's wire format —
    value = ``json.dumps(payload, default=str).encode("utf-8")``,
    key = utf-8 device_id (reference producer/telemetry_sim.py:72-75,
    147-152) — and carried in a STREAMING DataFrame with the Kafka
    source's exact 7-column record schema (key/value binary, topic,
    partition, offset, timestamp, timestampType). The stream runs the
    SAME parse→validate→bronze-sink chain the Kafka path wires up
    (parse_telemetry_json → write_bronze_stream), and the landed
    bronze rows must equal the batch file-source path's rows. What
    this cannot prove is only the subscribe→poll→commit loop inside
    the connector JAR — the wire format, schema contract, validation,
    and sink semantics are all exercised for real."""
    import datetime as dt

    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    tmp = tempfile.mkdtemp()
    # producer-faithful payloads: same dict key order as
    # telemetry_sim.generate_telemetry_data, same serializer
    payloads = []
    for i, ts in enumerate(
        ["2025-07-20T10:00:00+00:00", "2025-07-20T11:30:00+00:00"]
    ):
        payloads.append(
            {
                "device_id": f"device_{i:03d}",
                "device_type": "thermostat",
                "user_id": "user_001",
                "timestamp": ts,
                "temperature": 22.5,
                "power_usage": 2000.0,
                "energy_consumption_wh": 33.3,
                "status": "online",
                "alert": "none",
                "location": "living_room",
                "manufacturer": "Nest",
                "model": "T100",
            }
        )
    bad = {"device_id": "device_999"}  # fails required-field validation
    kafka_schema = StructType(
        [
            StructField("key", BinaryType()),
            StructField("value", BinaryType()),
            StructField("topic", StringType()),
            StructField("partition", IntegerType()),
            StructField("offset", LongType()),
            StructField("timestamp", TimestampType()),
            StructField("timestampType", IntegerType()),
        ]
    )
    records = [
        (
            p["device_id"].encode("utf-8"),
            json.dumps(p, default=str).encode("utf-8"),
            "smart_home.telemetry",
            i % 2,
            i,
            dt.datetime(2025, 7, 20, 12, 0, i),
            0,
        )
        for i, p in enumerate(payloads + [bad])
    ]
    raw_batch = spark.createDataFrame(records, kafka_schema)
    raw_batch.write.mode("overwrite").parquet(f"{tmp}/wire")

    # the Kafka-shaped STREAM: identical schema and bytes, file transport
    raw_stream = spark.readStream.schema(kafka_schema).parquet(f"{tmp}/wire")
    assert raw_stream.isStreaming
    assert [f.name for f in raw_stream.schema.fields] == [
        f.name for f in kafka_schema.fields
    ]
    q = write_bronze_stream(
        parse_telemetry_json(raw_stream),
        f"{tmp}/bronze",
        f"{tmp}/ckpt",
        available_now=True,
    )
    q.awaitTermination(120)

    bronze = spark.read.parquet(f"{tmp}/bronze")
    # the invalid record is dropped; both valid producer messages land
    assert bronze.count() == 2
    # field-level parity with the batch parse of the same bytes
    expect = {
        (r.device_id, r.timestamp, r.temperature)
        for r in parse_telemetry_json(raw_batch).collect()
    }
    got = {
        (r.device_id, r.timestamp, r.temperature) for r in bronze.collect()
    }
    assert got == expect
    assert {str(r.event_date) for r in bronze.collect()} == {"2025-07-20"}


def test_streaming_file_source_incremental(spark, telemetry_fixture):
    tmp = tempfile.mkdtemp()
    telemetry_fixture.write.mode("overwrite").parquet(f"{tmp}/bronze_flat")
    stream = silver_stream_from_bronze_files(spark, f"{tmp}/bronze_flat", BRONZE_SCHEMA)
    assert stream.isStreaming
    q = (
        stream.filter(F.col("device_id").isNotNull())
        .writeStream.format("memory")
        .queryName("inc_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert spark.sql("SELECT count(*) FROM inc_test").collect()[0][0] == 10


def test_synthetic_stream_survives_exhaustion(spark):
    """The synthetic stream source stops generating at ``n``; the
    query must keep running after that, idle, not die. Once the offset
    stops advancing the engine calls next() on the empty batch the
    reader hands back, which a bare list fails with
    PYTHON_STREAMING_DATA_SOURCE_RUNTIME_ERROR."""
    import time

    from big_data_for_smart_houses_spark.sources.synthetic import register

    register(spark)
    n = 200
    tmp = tempfile.mkdtemp(prefix="synth_exhaust_")
    q = (
        spark.readStream.format("synthetic_telemetry")
        .option("n", str(n))
        .option("batch", "64")
        .load()
        .writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while sum(p["numInputRows"] for p in q.recentProgress) < n:
            assert q.exception() is None, q.exception()
            assert time.time() < deadline, "stream never drained"
            time.sleep(0.1)
        # a couple of seconds of idle triggers past the end of the data
        time.sleep(2)
        assert q.exception() is None, q.exception()
        assert q.isActive
    finally:
        q.stop()
    assert spark.read.parquet(f"{tmp}/out").count() == n


def test_synthetic_stream_availablenow_drains_all_rows(spark):
    """An availableNow run over the synthetic source must drain every
    row up to ``n`` in one run and stop cleanly, not end after the
    first prefetch."""
    from big_data_for_smart_houses_spark.sources.synthetic import register

    register(spark)
    n = 2000
    tmp = tempfile.mkdtemp(prefix="synth_drain_")
    q = (
        spark.readStream.format("synthetic_telemetry")
        .option("n", str(n))
        .option("batch", "512")
        .load()
        .writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    out = spark.read.parquet(f"{tmp}/out")
    assert out.count() == n
    assert out.selectExpr("count(DISTINCT row_id)").first()[0] == n


def _run_stream(spark, tmp, build, name):
    collected = []
    q = (
        build()
        .writeStream.foreachBatch(lambda df, _e: collected.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return collected


def test_dedup_stream_within_watermark(spark):
    import datetime as dt

    from big_data_for_smart_houses_spark.streaming.ingest import (
        dedup_stream_within_watermark,
    )

    tmp = tempfile.mkdtemp()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("a", t0, 1.0),
        ("a", t0, 2.0),  # redelivered duplicate key (same event)
        ("b", t0 + dt.timedelta(seconds=5), 3.0),
        ("a", t0 + dt.timedelta(seconds=9), 4.0),  # same device, new event
    ]
    df = spark.createDataFrame(
        rows, "device_id string, timestamp timestamp, v double"
    )
    df.write.mode("append").parquet(f"{tmp}/staged")
    stream = spark.readStream.schema(df.schema).parquet(f"{tmp}/staged")
    out = _run_stream(
        spark,
        tmp,
        lambda: dedup_stream_within_watermark(
            stream, ["device_id", "timestamp"], watermark_delay="1 hour"
        ),
        "dedup",
    )
    assert len(out) == 3  # the redelivery is suppressed
    assert sorted((r.device_id, r.timestamp) for r in out) == [
        ("a", t0),
        ("a", t0 + dt.timedelta(seconds=9)),
        ("b", t0 + dt.timedelta(seconds=5)),
    ]


def test_stream_interval_join_bounds(spark):
    import datetime as dt

    from big_data_for_smart_houses_spark.streaming.joins import (
        stream_interval_join,
    )

    tmp = tempfile.mkdtemp()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    purchases = spark.createDataFrame(
        [("u1", ts(100), "p1"), ("u2", ts(200), "p2")],
        "user_id string, p_ts timestamp, purchase_id string",
    )
    clicks = spark.createDataFrame(
        [
            ("u1", ts(40), "c1"),   # inside 60s lookback of p1
            ("u1", ts(99), "c2"),   # inside
            ("u1", ts(101), "c3"),  # AFTER the purchase -> excluded
            ("u2", ts(100), "c4"),  # 100s before p2 -> outside 60s window
        ],
        "user_id string, c_ts timestamp, click_id string",
    )
    purchases.write.mode("append").parquet(f"{tmp}/p")
    clicks.write.mode("append").parquet(f"{tmp}/c")
    ps = spark.readStream.schema(purchases.schema).parquet(f"{tmp}/p")
    cs = spark.readStream.schema(clicks.schema).parquet(f"{tmp}/c")
    out = _run_stream(
        spark,
        tmp,
        lambda: stream_interval_join(
            ps, cs, on="user_id", left_ts="p_ts", right_ts="c_ts",
            lookback_seconds=60,
        ),
        "ssjoin",
    )
    got = sorted((r.purchase_id, r.click_id) for r in out)
    assert got == [("p1", "c1"), ("p1", "c2")]


def test_jsonl_roundtrip_and_corrupt_quarantine(spark):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from big_data_for_smart_houses_spark.sources.jsonl import (
        read_jsonl,
        write_jsonl,
    )

    tmp = tempfile.mkdtemp()
    lines = [
        '{"doc_id": 1, "text": "alpha", "score": 0.5}',
        '{"doc_id": 2, "text": "beta", "score": 1.5}',
        'not json at all {{{',
    ]
    with open(f"{tmp}/in.jsonl", "w") as f:
        f.write("\n".join(lines))
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    clean = read_jsonl(spark, f"{tmp}/in.jsonl", schema)
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2]
    # Spark disallows queries touching ONLY _corrupt_record on raw
    # JSON; collect full rows and filter driver-side in the test
    rows = read_jsonl(spark, f"{tmp}/in.jsonl", schema, keep_corrupt=True).collect()
    assert sum(1 for r in rows if r._corrupt_record is not None) == 1
    write_jsonl(clean, f"{tmp}/out")
    back = read_jsonl(spark, f"{tmp}/out", schema)
    assert sorted((r.doc_id, r.text) for r in back.collect()) == [
        (1, "alpha"),
        (2, "beta"),
    ]


def test_document_curation_stream_end_to_end(spark):
    import datetime as _dt

    from big_data_for_smart_houses_spark.streaming.docs import (
        DOC_STREAM_SCHEMA,
        curate_document_stream,
        document_stream_from_files,
        write_curated_stream,
    )

    tmp = tempfile.mkdtemp()
    ts = _dt.datetime(2025, 7, 20, 10, 0, 0)
    good = (
        "the quick brown fox jumps over the lazy dog and keeps on "
        "running through the quiet green field until the early evening "
        "light finally fades away over the distant hills tonight"
    )
    rows = [
        (1, good, "en", "srcA", ts),
        (2, good, "en", "srcB", ts),                  # exact dup of 1
        (3, "too short", "en", "srcA", ts),           # fails quality
        (4, good + " contact me at bob@example.com please everyone",
         "de", "srcC", ts),                           # PII to scrub
        (5, None, "en", "srcA", ts),                  # nothing to curate
    ]
    spark.createDataFrame(rows, DOC_STREAM_SCHEMA).write.mode(
        "overwrite"
    ).parquet(f"{tmp}/incoming")

    stream = document_stream_from_files(spark, f"{tmp}/incoming")
    q = write_curated_stream(
        curate_document_stream(stream),
        f"{tmp}/curated",
        f"{tmp}/ckpt",
        available_now=True,
    )
    q.awaitTermination(120)

    out = spark.read.parquet(f"{tmp}/curated")
    by_id = {r.doc_id: r for r in out.collect()}
    # dup pair collapsed to one row; short + null docs dropped
    assert len({1, 2} & set(by_id)) == 1
    assert 3 not in by_id and 5 not in by_id
    assert 4 in by_id
    assert "<EMAIL>" in by_id[4].text and "bob@" not in by_id[4].text
    # lang partitioning on disk (S6 shape)
    import os

    assert any(d.startswith("lang=") for d in os.listdir(f"{tmp}/curated"))

    # incremental catch-up: only new files process on the second run
    late = [(6, good + " with a genuinely new unique tail", "fr", "srcD", ts)]
    spark.createDataFrame(late, DOC_STREAM_SCHEMA).write.mode(
        "append"
    ).parquet(f"{tmp}/incoming")
    stream2 = document_stream_from_files(spark, f"{tmp}/incoming")
    q2 = write_curated_stream(
        curate_document_stream(stream2),
        f"{tmp}/curated",
        f"{tmp}/ckpt",
        available_now=True,
    )
    q2.awaitTermination(120)
    out2 = spark.read.parquet(f"{tmp}/curated")
    assert out2.count() == len(by_id) + 1
    assert out2.filter(F.col("doc_id") == 6).count() == 1


def test_stream_interval_join_full_outer_key_survives(spark):
    """Full-outer mode: an unmatched RIGHT row must surface its own
    key (the left key is NULL for it) — pins the coalesce-key fix —
    and only rows final under the watermark emit null-padded."""
    import datetime as dt

    from big_data_for_smart_houses_spark.streaming.joins import (
        stream_interval_join,
    )

    tmp = tempfile.mkdtemp()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    # far-future sentinel rows on both sides push the watermark high
    # enough that every earlier row's outer decision is final
    purchases = spark.createDataFrame(
        [("u1", ts(100), "p1"), ("u9", ts(100000), "p_hi")],
        "user_id string, p_ts timestamp, purchase_id string",
    )
    clicks = spark.createDataFrame(
        [
            ("u1", ts(90), "c1"),    # matches p1
            ("u3", ts(50), "c_or"),  # no purchase ever -> right-outer
            ("u9", ts(100000), "c_hi"),
        ],
        "user_id string, c_ts timestamp, click_id string",
    )
    purchases.write.mode("append").parquet(f"{tmp}/p")
    clicks.write.mode("append").parquet(f"{tmp}/c")
    ps = spark.readStream.schema(purchases.schema).parquet(f"{tmp}/p")
    cs = spark.readStream.schema(clicks.schema).parquet(f"{tmp}/c")
    out = _run_stream(
        spark,
        tmp,
        lambda: stream_interval_join(
            ps, cs, on="user_id", left_ts="p_ts", right_ts="c_ts",
            lookback_seconds=60, watermark_delay="10 seconds",
            how="full_outer",
        ),
        "ssfojoin",
    )
    rows = {(r.user_id, r.purchase_id, r.click_id) for r in out}
    assert ("u1", "p1", "c1") in rows
    assert ("u3", None, "c_or") in rows  # key from the RIGHT side
    import pytest

    with pytest.raises(ValueError):
        stream_interval_join(
            ps, cs, on="user_id", left_ts="p_ts", right_ts="c_ts",
            lookback_seconds=60, how="cross",
        )


def test_stream_interval_join_left_semi(spark):
    """Semi join: multi-match purchase emits exactly ONCE with left
    columns only; unmatched purchase never emits; left_anti raises."""
    import datetime as dt

    import pytest

    from big_data_for_smart_houses_spark.streaming.joins import (
        stream_interval_join,
    )

    tmp = tempfile.mkdtemp()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    purchases = spark.createDataFrame(
        [("u1", ts(100), "p1"), ("u2", ts(200), "p2")],
        "user_id string, p_ts timestamp, purchase_id string",
    )
    clicks = spark.createDataFrame(
        [
            ("u1", ts(40), "c1"),  # both inside p1's 60s lookback:
            ("u1", ts(99), "c2"),  # two matches, must emit p1 ONCE
            ("u2", ts(100), "c4"),  # outside p2's window
        ],
        "user_id string, c_ts timestamp, click_id string",
    )
    purchases.write.mode("append").parquet(f"{tmp}/p")
    clicks.write.mode("append").parquet(f"{tmp}/c")
    ps = spark.readStream.schema(purchases.schema).parquet(f"{tmp}/p")
    cs = spark.readStream.schema(clicks.schema).parquet(f"{tmp}/c")
    out = _run_stream(
        spark,
        tmp,
        lambda: stream_interval_join(
            ps, cs, on="user_id", left_ts="p_ts", right_ts="c_ts",
            lookback_seconds=60, how="left_semi",
        ),
        "sssemi",
    )
    assert sorted(r.purchase_id for r in out) == ["p1"]
    assert set(out[0].asDict()) == {"user_id", "p_ts", "purchase_id"}

    with pytest.raises(ValueError):
        stream_interval_join(
            ps, cs, on="user_id", left_ts="p_ts", right_ts="c_ts",
            lookback_seconds=60, how="cross",
        )


def test_stream_interval_join_left_anti(spark):
    """Anti join emulation (round 10): an unmatched-and-FINAL left
    row emits exactly once with left columns only; a matched row
    never emits; an unmatched row the watermark has not yet proven
    final is withheld in state — the streaming NOT EXISTS."""
    import datetime as dt

    from big_data_for_smart_houses_spark.streaming.joins import (
        stream_interval_join,
    )

    tmp = tempfile.mkdtemp()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    # wm = min(max p_ts, max c_ts) - 10s = min(200, 100) - 10 = 90:
    #   p0 (u3, t=5): unmatched, 5 < 90 final       -> EMITS
    #   p1 (u1, t=100): matched by c1 in [40, 100]  -> never emits
    #   p2 (u2, t=200): unmatched, 200 >= 90        -> withheld
    purchases = spark.createDataFrame(
        [("u3", ts(5), "p0"), ("u1", ts(100), "p1"),
         ("u2", ts(200), "p2")],
        "user_id string, p_ts timestamp, purchase_id string",
    )
    clicks = spark.createDataFrame(
        [("u1", ts(40), "c1"), ("u2", ts(100), "c4")],
        "user_id string, c_ts timestamp, click_id string",
    )
    purchases.write.mode("append").parquet(f"{tmp}/p")
    clicks.write.mode("append").parquet(f"{tmp}/c")
    ps = spark.readStream.schema(purchases.schema).parquet(f"{tmp}/p")
    cs = spark.readStream.schema(clicks.schema).parquet(f"{tmp}/c")
    out = _run_stream(
        spark,
        tmp,
        lambda: stream_interval_join(
            ps, cs, on="user_id", left_ts="p_ts", right_ts="c_ts",
            lookback_seconds=60, watermark_delay="10 seconds",
            how="left_anti",
        ),
        "ssanti",
    )
    assert [r.purchase_id for r in out] == ["p0"]
    assert set(out[0].asDict()) == {"user_id", "p_ts", "purchase_id"}


def test_arrow_events_normalizes_timestamp_flavors(tmp_path):
    """_arrow_events must stage timestamp[us, UTC] regardless of the
    source parquet's flavor (round-10 advice): a ns-flavored driver
    parquet — the case load_table explicitly defends against on the
    Spark side — would otherwise be re-staged as ns and read 1000x
    off (or error) by the gates' fixed ev.schema file streams."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_for_smart_houses_spark.queries.streaming_gate import (
        _arrow_events,
    )

    base_us = 1_700_000_000_000_000  # epoch µs
    for flavor, vals in [
        (pa.timestamp("ns"), [base_us * 1000 + 999, base_us * 1000]),
        (pa.timestamp("us"), [base_us + 1, base_us]),
        (pa.timestamp("us", tz="UTC"), [base_us + 2, base_us]),
    ]:
        d = tmp_path / f"src_{flavor.unit}_{flavor.tz or 'ntz'}"
        d.mkdir()
        tbl = pa.table(
            {
                "user_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(vals, flavor),
            }
        )
        pq.write_table(tbl, d / "events.parquet")
        got = _arrow_events(str(d))
        assert got.schema.field("ts").type == pa.timestamp(
            "us", tz="UTC"
        ), flavor
        got_us = [v.value for v in got.column("ts")]
        # ns truncates (floor for positive epochs), us passes through
        want = [
            v // 1000 if flavor.unit == "ns" else v for v in vals
        ]
        assert got_us == want, flavor


def test_stream_interval_join_watermark_boundary_microseconds(spark):
    """Pin the join finality bounds to the MICROSECOND (round 10,
    measured): Spark tracks event-time stats in ms, so the global
    watermark is floor_ms(min(max_l, max_r)) - delay, and the join
    state-watermark subtracts one further millisecond
    (StreamingJoinHelper's conservatism). An unmatched left row
    emits iff l_ts <= W - 1ms; rows inside the trailing sub-ms + 1ms
    slice stay withheld even though their raw event time is below
    min(max) - delay. The three stream-join gate oracles model
    exactly this bound in integer-µs arithmetic; this test is what
    keeps engine and oracle pinned to the same microsecond."""
    import datetime as dt

    from big_data_for_smart_houses_spark.streaming.joins import (
        stream_interval_join,
    )

    tmp = tempfile.mkdtemp()
    us = dt.datetime.fromisoformat
    # max on both sides = ...00:00:00.000700 -> floored watermark
    # W = 18:00:00.000; emission bound = W - 1ms = 17:59:59.999000
    m = us("2024-01-10 00:00:00.000700")
    purchases = spark.createDataFrame(
        [
            (1, "at_bound", us("2024-01-09 17:59:59.999000")),
            (1, "in_slice", us("2024-01-09 17:59:59.999999")),
            (1, "at_floor", us("2024-01-09 18:00:00.000000")),
            (1, "below_raw", us("2024-01-09 18:00:00.000400")),
            (9, "sets_max", m),
        ],
        "user_id long, purchase_id string, p_ts timestamp",
    )
    clicks = spark.createDataFrame(
        [(99, "c0", us("2024-01-09 00:00:00")), (98, "cmax", m)],
        "user_id long, click_id string, c_ts timestamp",
    )
    purchases.write.mode("append").parquet(f"{tmp}/p")
    clicks.write.mode("append").parquet(f"{tmp}/c")
    ps = spark.readStream.schema(purchases.schema).parquet(f"{tmp}/p")
    cs = spark.readStream.schema(clicks.schema).parquet(f"{tmp}/c")
    out = _run_stream(
        spark,
        tmp,
        lambda: stream_interval_join(
            ps, cs, on="user_id", left_ts="p_ts", right_ts="c_ts",
            lookback_seconds=3600, watermark_delay="6 hours",
            how="left_anti",
        ),
        "ssantibound",
    )
    # ONLY the row at exactly W - 1ms is final; every row in the
    # trailing slice — including ones below the raw (un-floored)
    # min(max) - delay — is withheld. An oracle using the raw bound
    # would expect in_slice/at_floor/below_raw here and hash-fail.
    assert sorted(r.purchase_id for r in out) == ["at_bound"]


def test_session_window_watermark_boundary_microseconds(spark):
    """Pin the session-window finality bound at sub-ms (round 10,
    measured): a closed session emits iff its µs-precision end is
    <= the MILLISECOND-FLOORED watermark (floor_ms(max ts) - delay),
    NON-strict — aggregates carry no -1 ms join-state conservatism.
    Session ends inside the trailing sub-ms slice stay withheld even
    though they are below the raw max(ts) - delay; the session gate
    oracle models exactly this bound in integer-µs arithmetic."""
    import datetime as dt

    from pyspark.sql import functions as F

    us = dt.datetime.fromisoformat
    m = us("2024-01-10 12:00:00.000700")  # floored wm = 11:00:00.000
    ends = {
        "below": "2024-01-10 10:59:59.999999",
        "at_floor": "2024-01-10 11:00:00.000000",
        "in_slice": "2024-01-10 11:00:00.000400",
        "at_raw": "2024-01-10 11:00:00.000700",
    }
    rows = [
        (k, us(v) - dt.timedelta(seconds=60)) for k, v in ends.items()
    ] + [("zmax", m)]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    tmp = tempfile.mkdtemp()
    df.write.parquet(f"{tmp}/in")
    s = spark.readStream.schema(df.schema).parquet(f"{tmp}/in")
    out = _run_stream(
        spark,
        tmp,
        lambda: (
            s.withWatermark("ts", "3600 seconds")
            .groupBy(
                "user_id", F.session_window("ts", "60 seconds")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select("user_id")
        ),
        "swbound",
    )
    assert sorted(r.user_id for r in out) == ["at_floor", "below"]


def test_finality_bounds_pinned_to_measured_spark_version():
    """The stream-join/session oracles hard-code Spark-internal
    finality constants (ms-floored event-time stats, the 1 ms
    StreamingJoinHelper conservatism, non-strict aggregate <=). They
    were MEASURED, not read off a contract — so pin the version they
    were measured on (round-10 advice): an engine bump fails HERE
    with the re-measurement procedure, not downstream as a mystery
    oracle hash-fail."""
    import pyspark

    from big_data_for_smart_houses_spark.queries.streaming_gate import (
        FINALITY_BOUNDS_MEASURED_SPARK,
    )

    assert pyspark.__version__ == FINALITY_BOUNDS_MEASURED_SPARK, (
        f"pyspark {pyspark.__version__} != measured "
        f"{FINALITY_BOUNDS_MEASURED_SPARK}: re-run the watermark "
        "boundary tests and the finality Hypothesis properties in "
        "this file, re-measure the bounds, update the oracles in "
        "queries/streaming_gate.py if they moved, then bump "
        "FINALITY_BOUNDS_MEASURED_SPARK"
    )


# ---------------------------------------------------------------------------
# Hypothesis properties: the measured finality bounds hold on RANDOM
# sub-millisecond corpora (round-10 verdict ask #5 — the boundary
# tests above pin hand-picked instants; these drive engine vs the
# closed-form oracle arithmetic over arbitrary µs-offset corpora for
# the three emulated join modes and session windows).
# ---------------------------------------------------------------------------

import datetime as _dt  # noqa: E402

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_US = 1_000_000
_BASE = _dt.datetime(2024, 1, 10, 0, 0, 0)  # session tz = UTC
_T_MAX_US = 10 * 3600 * _US  # the max-setting sentinel's offset
_JOIN_DELAY_S = 3600
_JOIN_LOOKBACK_S = 600
# nominal emission region: rows land within ±5 ms of the raw bound so
# every example exercises the floored/±1 ms slice
_W_NOMINAL_US = _T_MAX_US - _JOIN_DELAY_S * _US


def _ts(us: int) -> _dt.datetime:
    return _BASE + _dt.timedelta(microseconds=us)


def _floor_ms(us: int) -> int:
    return (us // 1000) * 1000


@given(
    mode=st.sampled_from(["left_outer", "full_outer", "left_anti"]),
    max_l_sub=st.integers(0, 999),
    max_r_sub=st.integers(0, 999),
    lefts=st.lists(
        st.tuples(st.integers(1, 3), st.integers(-5000, 5000)),
        min_size=0, max_size=6,
    ),
    rights=st.lists(
        st.tuples(st.integers(1, 3), st.integers(-5000, 5000)),
        min_size=0, max_size=6,
    ),
)
@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
def test_stream_join_finality_property(
    spark, mode, max_l_sub, max_r_sub, lefts, rights
):
    """For ANY sub-ms corpus: with W = min(floor_ms(max_l),
    floor_ms(max_r)) - delay, matched pairs all emit; an unmatched
    left emits iff l_us <= W - 1000; an unmatched right (full_outer)
    iff r_us <= W - lookback_us - 1000. This is exactly the
    arithmetic the three stream-join gate oracles replay in SQL."""
    from big_data_for_smart_houses_spark.streaming.joins import (
        stream_interval_join,
    )

    l_us = _T_MAX_US + max_l_sub
    r_us = _T_MAX_US + max_r_sub
    l_rows = [
        (u, f"l{i}", _W_NOMINAL_US + d) for i, (u, d) in enumerate(lefts)
    ] + [(98, "lmax", l_us)]
    r_rows = [
        (u, f"r{i}", _W_NOMINAL_US + d) for i, (u, d) in enumerate(rights)
    ] + [(99, "rmax", r_us)]

    # closed-form oracle in integer µs
    w = min(_floor_ms(l_us), _floor_ms(r_us)) - _JOIN_DELAY_S * _US
    lb = _JOIN_LOOKBACK_S * _US
    expected = set()
    matched_r = set()
    for u, lid, lt in l_rows:
        ms = [
            rid for (ru, rid, rt) in r_rows
            if ru == u and lt - lb <= rt <= lt
        ]
        matched_r.update(ms)
        if ms:
            if mode in ("left_outer", "full_outer"):
                expected.update((u, lid, rid) for rid in ms)
        elif lt <= w - 1000:
            if mode == "left_anti":
                expected.add((u, lid))
            else:
                expected.add((u, lid, None))
    if mode == "full_outer":
        for u, rid, rt in r_rows:
            if rid not in matched_r and rt <= w - lb - 1000:
                expected.add((u, None, rid))

    tmp = tempfile.mkdtemp()
    spark.createDataFrame(
        [(u, i, _ts(t)) for u, i, t in l_rows],
        "user_id long, purchase_id string, p_ts timestamp",
    ).write.parquet(f"{tmp}/p")
    spark.createDataFrame(
        [(u, i, _ts(t)) for u, i, t in r_rows],
        "user_id long, click_id string, c_ts timestamp",
    ).write.parquet(f"{tmp}/c")
    ps = spark.readStream.schema(
        "user_id long, purchase_id string, p_ts timestamp"
    ).parquet(f"{tmp}/p")
    cs = spark.readStream.schema(
        "user_id long, click_id string, c_ts timestamp"
    ).parquet(f"{tmp}/c")
    out = _run_stream(
        spark,
        tmp,
        lambda: stream_interval_join(
            ps, cs, on="user_id", left_ts="p_ts", right_ts="c_ts",
            lookback_seconds=_JOIN_LOOKBACK_S,
            watermark_delay=f"{_JOIN_DELAY_S} seconds", how=mode,
        ),
        f"prop_{mode}",
    )
    if mode == "left_anti":
        got = {(r.user_id, r.purchase_id) for r in out}
    else:
        got = {(r.user_id, r.purchase_id, r.click_id) for r in out}
    assert got == expected, (mode, got ^ expected)


_SESSION_GAP_S = 60
_SESSION_DELAY_S = 3600
_SESS_NOMINAL_US = (
    _T_MAX_US - _SESSION_DELAY_S * _US - _SESSION_GAP_S * _US
)


@given(
    max_sub=st.integers(0, 999),
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),          # user
            st.integers(0, 1),          # session cluster (120 s apart)
            st.integers(-5000, 5000),   # µs jitter at the bound
        ),
        min_size=1, max_size=8,
    ),
)
@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
def test_session_window_finality_property(spark, max_sub, rows):
    """For ANY sub-ms corpus: a gap-merged session (gap G) emits iff
    its µs-precision end (last event + G) is <= floor_ms(max ts) -
    delay, NON-strict with no -1 ms — the aggregate-side bound the
    session gate oracle replays in SQL."""
    from pyspark.sql import functions as F

    m_us = _T_MAX_US + max_sub
    ev = sorted(
        (u, _SESS_NOMINAL_US - c * 120 * _US + j) for u, c, j in rows
    )
    w = _floor_ms(m_us) - _SESSION_DELAY_S * _US
    gap = _SESSION_GAP_S * _US

    # closed-form oracle: per-user gap-merge, emit iff end <= w
    expected = set()
    by_user: dict = {}
    for u, t in ev:
        by_user.setdefault(u, []).append(t)
    by_user.setdefault(9, []).append(m_us)  # the max sentinel
    for u, ts in by_user.items():
        ts.sort()
        start, last, n = ts[0], ts[0], 1
        sessions = []
        for t in ts[1:]:
            if t - last < gap:
                last, n = t, n + 1
            else:
                sessions.append((start, last + gap, n))
                start, last, n = t, t, 1
        sessions.append((start, last + gap, n))
        for s, e, k in sessions:
            if e <= w:
                expected.add((u, s, e, k))

    tmp = tempfile.mkdtemp()
    data = [(u, _ts(t)) for u, t in ev] + [(9, _ts(m_us))]
    spark.createDataFrame(
        data, "user_id long, ts timestamp"
    ).write.parquet(f"{tmp}/in")
    s = spark.readStream.schema("user_id long, ts timestamp").parquet(
        f"{tmp}/in"
    )
    out = _run_stream(
        spark,
        tmp,
        lambda: (
            s.withWatermark("ts", f"{_SESSION_DELAY_S} seconds")
            .groupBy(
                "user_id",
                F.session_window("ts", f"{_SESSION_GAP_S} seconds"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                F.col("session_window.start").alias("s"),
                F.col("session_window.end").alias("e"),
                "n",
            )
        ),
        "prop_session",
    )

    def _us_of(d):
        # collected timestamps come back naive in the session tz
        # (UTC), same flavor as _BASE — plain delta arithmetic
        delta = d - _BASE
        return (
            delta.days * 86400 * _US
            + delta.seconds * _US
            + delta.microseconds
        )

    got = {(r.user_id, _us_of(r.s), _us_of(r.e), r.n) for r in out}
    assert got == expected, got ^ expected
