"""Deterministic, seeded telemetry generator for the benchmark.

Every field of every event derives from ``xxhash64(seed, id, k)`` over a
``spark.range`` id, so the same seed gives the same rows on any
partitioning, and no wall clock or RNG is involved. Event ``id`` is a
position in one global stream: device ``id % devices`` at minute
``id // devices`` (a one-minute cadence per device), so the events of
one hour are the contiguous id range ``[60 h D, 60 (h + 1) D)``.

Anomalies are planted by congruences on the id rather than by hash, so
their counts follow from arithmetic and are known exactly
(:func:`planted`):

* ``oor``     temperature 150.0, outside silver's [-50, 100] range;
* ``late``    event time 72 h before delivery (``is_late_event``);
* ``dup``     redelivered in the same delivery (same key, and for
              bronze a later ``ingestion_time``);
* ``cross``   JSON only: redelivered again in the next hour's file, so
              it crosses an incremental-silver cycle boundary;
* ``bad``     JSON only: a malformed line, truncated JSON on even ids
              and a payload without ``device_id`` on odd ids.

Keys never collide: normal events sit on an even second of their
minute and late ones on an odd second.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

START_S = 1_767_225_600  # 2026-01-01T00:00:00Z
LATE_S = 72 * 3600
DEVICE_TYPES = (
    "thermostat",
    "smart_bulb",
    "smart_plug",
    "security_camera",
    "washing_machine",
    "ev_charger",
)
# modulus and seed multiplier of each planted anomaly
PLANTS = {
    "oor": (97, 1),
    "late": (101, 3),
    "dup": (53, 7),
    "cross": (61, 11),
    "bad": (89, 13),
}
ISO = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def _is(kind: str, seed: int) -> Column:
    mod, mul = PLANTS[kind]
    return (F.col("id") + F.lit(mul * seed)) % mod == 0


def _events(spark: SparkSession, seed: int, devices: int, lo: int, hi: int) -> DataFrame:
    """One row per event id in ``[lo, hi)`` with the telemetry payload
    columns plus ``id`` and ``deliver_s`` (the second it is delivered)."""
    h = lambda k: F.xxhash64(F.lit(seed), F.col("id"), F.lit(k))  # noqa: E731
    d = F.col("id") % devices
    minute_s = F.lit(START_S) + (F.col("id") / devices).cast("long") * 60
    deliver = minute_s + F.pmod(h(1), 30) * 2
    late = _is("late", seed)
    event_s = F.when(late, deliver - LATE_S + 1).otherwise(deliver)
    dtype = F.element_at(
        F.array(*[F.lit(t) for t in DEVICE_TYPES]), (d % len(DEVICE_TYPES) + 1).cast("int")
    )
    power = (F.lit(20.0) + (d % len(DEVICE_TYPES)) * 400.0) + F.pmod(h(3), 20000) / 10.0
    temp = F.when(_is("oor", seed), F.lit(150.0)).otherwise(
        F.lit(12.0) + F.pmod(h(2), 4500) / 100.0
    )
    return spark.range(lo, hi, numPartitions=4).select(
        "id",
        deliver.alias("deliver_s"),
        F.format_string("dev_%05d", d).alias("device_id"),
        dtype.alias("device_type"),
        F.format_string("user_%05d", (d / 3).cast("long")).alias("user_id"),
        F.date_format(F.timestamp_seconds(event_s), ISO).alias("timestamp"),
        temp.alias("temperature"),
        power.alias("power_usage"),
        F.round(power / 60.0, 4).alias("energy_consumption_wh"),
        F.element_at(F.array(F.lit("on"), F.lit("standby"), F.lit("off")), (F.pmod(h(4), 3) + 1).cast("int")).alias("status"),
        F.when(F.pmod(h(5), 40) == 0, F.lit("high_temperature")).otherwise(F.lit("none")).alias("alert"),
        F.format_string("room_%d", d % 7).alias("location"),
        F.lit("acme").alias("manufacturer"),
        F.when(d % 17 == 0, F.lit(None).cast("string")).otherwise(F.format_string("m%d", d % 5)).alias("model"),
    )


def write_bronze(spark: SparkSession, path: str, seed: int, devices: int, minutes: int) -> None:
    """Backlog of bronze parquet (``BRONZE_SCHEMA`` + ``event_date``)
    for ``devices`` devices over ``minutes`` minutes. ``dup`` events are
    written twice, the copy ingested 300 s later."""
    ev = _events(spark, seed, devices, 0, devices * minutes)
    copies = F.explode(F.sequence(F.lit(0), F.when(_is("dup", seed), 1).otherwise(0)))
    ev = ev.select("*", copies.alias("_copy"))
    ingest_s = F.col("deliver_s") + 5 + F.col("_copy") * 300
    out = ev.select(
        "device_id", "device_type", "user_id", "timestamp", "temperature",
        "power_usage", "energy_consumption_wh", "status", "alert", "location",
        "manufacturer", "model",
        F.date_format(F.timestamp_seconds(ingest_s), ISO).alias("ingestion_time"),
        F.to_date(F.to_timestamp("timestamp")).alias("event_date"),
    )
    out.write.mode("overwrite").partitionBy("event_date").parquet(path)


def write_json_hours(
    spark: SparkSession, path: str, seed: int, devices: int, history_hours: int, hours: int
) -> None:
    """Kafka-payload JSON lines, one text file per delivery under
    ``path/delivery=<k>``. Delivery 0 holds the first ``history_hours``
    hours; delivery k >= 1 holds hour ``history_hours + k - 1``, its
    ``dup`` events twice, and the ``cross`` events of the hour before."""
    total = history_hours + hours
    ev = _events(spark, seed, devices, 0, devices * 60 * total)
    hour = (F.col("id") / (devices * 60)).cast("long")
    delivery = F.greatest(hour - history_hours + 1, F.lit(0))
    payload = F.to_json(F.struct(
        F.when(_is("bad", seed) & (F.col("id") % 2 == 1), F.lit(None).cast("string"))
        .otherwise(F.col("device_id")).alias("device_id"),
        "device_type", "user_id", "timestamp", "temperature", "power_usage",
        "energy_consumption_wh", "status", "alert", "location", "manufacturer", "model",
    ))
    line = F.when(_is("bad", seed) & (F.col("id") % 2 == 0), F.substring(payload, 1, 60)).otherwise(payload)
    ev = ev.select("id", delivery.alias("delivery"), line.alias("value"))
    # copy 1 = same-delivery redelivery, copy 2 = next-delivery redelivery
    copies = F.array_compact(F.array(
        F.lit(0),
        F.when(_is("dup", seed), F.lit(1)),
        F.when(_is("cross", seed) & (F.col("delivery") >= 1) & (F.col("delivery") < hours), F.lit(2)),
    ))
    ev = ev.select("id", "delivery", "value", F.explode(copies).alias("_copy"))
    ev = ev.withColumn("delivery", F.col("delivery") + F.when(F.col("_copy") == 2, 1).otherwise(0))
    (
        ev.repartition("delivery")
        .sortWithinPartitions("delivery", "id", "_copy")
        .select("delivery", "value")
        .write.mode("overwrite")
        .partitionBy("delivery")
        .text(path)
    )


def planted(seed: int, devices: int, minutes: int) -> dict[str, int]:
    """Exact planted counts over event ids ``[0, devices * minutes)``."""
    n = devices * minutes
    return {"events": n} | {
        kind: len(range((-mul * seed) % mod, n, mod)) for kind, (mod, mul) in PLANTS.items()
    }


def digest(path: str) -> str:
    """sha256 over the generated files in path order. Spark part file
    names carry a random UUID, so files are keyed by their directory and
    part number only. Parquet files are hashed by their decoded data,
    because parquet-mr writes a column's encoding set in an order that
    differs between JVM processes; other files by their bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    h = hashlib.sha256()
    entries = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                rel = os.path.relpath(root, path)
                entries.append(((rel, f.split("-")[1]), os.path.join(root, f)))
    for key, full in sorted(entries):
        h.update(repr(key).encode())
        if full.endswith(".parquet"):
            sink = pa.BufferOutputStream()
            table = pq.read_table(full)
            with pa.ipc.new_stream(sink, table.schema) as writer:
                writer.write_table(table)
            h.update(sink.getvalue())
        else:
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
