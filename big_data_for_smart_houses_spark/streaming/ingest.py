"""Structured Streaming ingest (SURVEY.md §2.1 S1/S5, §2.9, §3.1).

Replaces the reference's Kafka consumer loop — manual buffer + lock +
count/time flush policy + hand-rolled validator + per-date path
templates (reference consumer/ingest_bronze.py:39-196) — with the
micro-batch engine: ``from_json`` against an explicit schema does the
validation (P1), ``trigger(processingTime)`` does the flush policy
(T1), ``partitionBy(event_date)`` does the event-time layout (T2),
and checkpointing replaces the ad-hoc re-buffer-on-error (T6 becomes
exactly-once into the file sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..schemas import REQUIRED_TELEMETRY_FIELDS, TELEMETRY_JSON_SCHEMA

DEFAULT_TRIGGER = "30 seconds"  # reference flush cadence (ingest_bronze.py:154-158)


def telemetry_stream_from_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "smart_home.telemetry",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1 — Kafka JSON source (reference consumer/ingest_bronze.py:46-65;
    topic/group config at config/config.py:10-14). Returns the raw
    key/value stream; pipe through :func:`parse_telemetry_json`."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def parse_telemetry_json(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """P1 — JSON deserialize + required-field validation + ingestion
    stamp (reference consumer/ingest_bronze.py:67-103). ``from_json``
    yields nulls for malformed/missing fields, so the reference's
    hand-rolled validator collapses to not-null predicates; rejected
    messages are dropped exactly as the reference drops them."""
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), TELEMETRY_JSON_SCHEMA).alias(
            "m"
        )
    ).select("m.*")
    cond = F.lit(True)
    for f in REQUIRED_TELEMETRY_FIELDS:
        cond = cond & F.col(f).isNotNull()
    # numeric fields must parse (from_json already nulled bad ones) and
    # timestamp must be ISO-parseable (ingest_bronze.py:86-95)
    cond = cond & F.try_to_timestamp(F.col("timestamp")).isNotNull()
    return parsed.filter(cond).withColumn(
        "ingestion_time", F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
    )


def write_bronze_stream(
    telemetry: DataFrame,
    path: str,
    checkpoint: str,
    trigger: str | None = DEFAULT_TRIGGER,
    available_now: bool = False,
) -> StreamingQuery:
    """S5/T1/T2 — event-date partitioned parquet sink with the
    reference's 30 s cadence. ``available_now=True`` gives the
    catch-up-then-stop mode used by incremental orchestration (T5)."""
    out = telemetry
    if "ingestion_time" not in out.columns:
        # the Kafka path stamps this in parse_telemetry_json (reference
        # consumer/ingest_bronze.py:103); direct simulator->bronze runs
        # stamp it here so bronze schema is uniform either way
        out = out.withColumn(
            "ingestion_time",
            F.date_format(
                F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
            ),
        )
    out = out.withColumn(
        "event_date", F.to_date(F.to_timestamp("timestamp"))
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("event_date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def run_available_now(
    writer: DataStreamWriter, checkpoint: str, timeout_s: float | None
) -> StreamingQuery:
    """T5 — drain everything available on ``checkpoint`` and stop.

    Starts ``writer`` (unstarted, sink and output mode already set)
    with ``trigger(availableNow=True)`` and waits for it. A stream
    that fails raises its own ``StreamingQueryException`` here. A
    stream still running after ``timeout_s`` seconds is stopped, so it
    releases the checkpoint, and ``TimeoutError`` is raised;
    ``timeout_s=None`` waits without bound. Returns the finished
    query, whose ``recentProgress`` holds the run's batches."""
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if timeout_s is None:
        q.awaitTermination()
    elif not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"availableNow query {q.id} did not finish within {timeout_s} s"
        )
    return q


def kafka_sink(
    telemetry: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
) -> StreamingQuery:
    """S2 — JSON-serialize keyed by device_id (reference
    producer/telemetry_sim.py:68-84, 155-172). ``acks=all`` matches the
    producer's delivery setting."""
    out = telemetry.select(
        F.col("device_id").cast("string").alias("key"),
        F.to_json(F.struct(*telemetry.columns)).alias("value"),
    )
    return (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("kafka.acks", "all")
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def silver_stream_from_bronze_files(
    spark: SparkSession,
    bronze_path: str,
    schema,
) -> DataFrame:
    """S8/T5 — incremental bronze consumption as a streaming file
    source: Spark tracks processed files exactly-once, strictly better
    than the reference's mtime-window heuristics
    (consumer/bronze_to_silver.py:38-80)."""
    return spark.readStream.schema(schema).parquet(bronze_path)


def dedup_stream_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "timestamp",
    watermark_delay: str = "48 hours",
) -> DataFrame:
    """T6 with bounded state: at-least-once delivery (Kafka redelivery,
    producer retries) made effectively-once by key-dedup inside the
    watermark horizon. `dropDuplicatesWithinWatermark` evicts a key's
    dedup state once the watermark passes its event time — state is
    O(keys per horizon), never O(stream) like a plain
    `dropDuplicates` on a stream would be. The batch layer's W3
    keep-first dedup remains the backstop for duplicates arriving
    further apart than the horizon."""
    return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        keys
    )


# ---------------------------------------------------------------------------
# Billing statement ingestion (round-13 verdict ask #4).
#
# The reference declares a full billing medallion surface — a
# ``billing.raw`` Kafka topic plus bronze/silver billing directories
# (reference config/config.py:13,25,29) — that no ETL ever consumes
# (SURVEY.md §1.3). The batch side of that surface landed in round 13
# (operators/billing.py consumes statements as a CSV dimension); this
# is the STREAMING side: statements arrive as JSON records on the
# topic (file-stream stand-in — the established S1 Kafka caveat: no
# broker in the sandbox, and the wire payload is what matters), are
# conformed onto the published statement schema, and land in a
# checkpointed, period-partitioned bronze sink exactly-once.
# ---------------------------------------------------------------------------

from pyspark.sql.types import StringType, StructField, StructType

from ..schemas import BILLING_SCHEMA
from ..sources.conform import conform_to_schema

# What the topic ACTUALLY carries: a leniently-parsed JSON payload —
# every field a string (JSON producers disagree on numeric quoting;
# parsing to string first and letting conform_to_schema try_cast is
# the P2 coerce-to-null contract, never a task failure) plus producer
# metadata the medallion must drop.
BILLING_RAW_READ_SCHEMA = StructType(
    [StructField(f.name, StringType()) for f in BILLING_SCHEMA.fields]
    + [StructField("_source", StringType())]
)


def billing_bronze_stream(
    spark: SparkSession,
    raw_dir: str,
    bronze_path: str,
) -> DataStreamWriter:
    """``billing.raw`` topic stand-in -> conform -> bronze, returned as
    an unstarted writer for :func:`run_available_now`.

    JSON file-stream over ``raw_dir`` read with the lenient
    all-string payload schema, projected onto ``BILLING_SCHEMA`` by
    ``conform_to_schema`` (typed nulls for missing fields, try_cast
    for type drift, producer metadata dropped), then appended to a
    ``billing_period``-partitioned parquet bronze sink, stamped with
    the ingestion time (the silver step's supersede order). The
    runner's checkpoint makes it exactly-once: re-running on the same
    checkpoint ingests nothing new (the T6 contract the reference's
    ad-hoc re-buffer loop only approximates). Partitioning by period
    keeps the layout month-cardinality (bounded) while the statement
    count inside each period scales with users — the same event-date
    shape as telemetry bronze (T2)."""
    raw = spark.readStream.schema(BILLING_RAW_READ_SCHEMA).json(raw_dir)
    conformed = conform_to_schema(raw, BILLING_SCHEMA).withColumn(
        # uniform with telemetry bronze (write_bronze_stream): the
        # ingestion stamp is what the silver step's supersede-dedup
        # orders reissued statements by
        "ingestion_time",
        F.date_format(
            F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
        ),
    )
    return (
        conformed.writeStream.format("parquet")
        .option("path", bronze_path)
        .partitionBy("billing_period")
        .outputMode("append")
    )
