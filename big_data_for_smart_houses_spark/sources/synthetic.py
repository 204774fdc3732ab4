"""Deterministic telemetry generator as a native Spark data source.

The reference generates load with a single-process Python producer
(reference producer/telemetry_sim.py: one random stream, one socket);
this module re-expresses that generator through Spark 4's Python Data
Source API (`pyspark.sql.datasource`) so synthetic telemetry is a
first-class `spark.read.format("synthetic_telemetry")` — planned,
partitioned, and scaled by the engine like any other scan:

- **partitioned generation**: the reader splits the row range into
  `partitions` independent slices, so a 10^12-row backfill is N
  parallel tasks with ZERO driver data and no shared RNG state;
- **RNG-free determinism**: every field derives from the row index
  via the sampling module's multiplicative-hash discipline
  (extensions/sampling.py:KNUTH) — same row index, same row, on any
  partitioning, any retry, any cluster (a re-run of a failed task
  cannot produce different data, which no seeded-RNG generator
  guarantees under speculative execution);
- **Arrow-friendly batches**: rows yield per-partition from plain
  arithmetic — cheap enough for test harnesses, and the shape (id →
  row) is exactly what a RecordBatch-yielding variant would vectorize.

Fields mirror the bronze producer's schema domains (FIXTURES.md §1):
device/user ids, event-time at a fixed cadence, per-type power draw.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..extensions.sampling import KNUTH

SYNTH_SCHEMA = (
    "row_id bigint, device_id string, device_type string, "
    "user_id string, ts timestamp, power_usage double"
)
DEVICE_TYPES = [
    "thermostat",
    "smart_bulb",
    "smart_plug",
    "security_camera",
    "motion_sensor",
]
BASE_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
STEP_US = 1_000_000  # one event per device-second, reference cadence


class SyntheticTelemetryDataSource(DataSource):
    """`spark.read.format("synthetic_telemetry")` options:
    ``n`` total rows (default 1000), ``n_devices`` (default 10),
    ``partitions`` parallel slices (default 8); streaming reads take
    ``batch`` rows per input partition (default 500)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_telemetry"

    def schema(self) -> str:
        return SYNTH_SCHEMA

    def reader(self, schema: StructType) -> "SyntheticTelemetryReader":
        return SyntheticTelemetryReader(self.options)

    def streamReader(
        self, schema: StructType
    ) -> "SyntheticTelemetryStreamReader":
        # same format name serves spark.readStream (row-index offsets
        # over the identical deterministic row function)
        return SyntheticTelemetryStreamReader(self.options)


class _Slice(InputPartition):
    def __init__(self, start: int, end: int, n_devices: int):
        self.start = start
        self.end = end
        self.n_devices = n_devices


class SyntheticTelemetryReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", "1000"))
        self.n_devices = int(options.get("n_devices", "10"))
        self.n_partitions = max(1, int(options.get("partitions", "8")))

    def partitions(self):
        step = -(-self.n // self.n_partitions)  # ceil
        return [
            _Slice(lo, min(lo + step, self.n), self.n_devices)
            for lo in range(0, self.n, step)
        ]

    def read(self, partition: _Slice):
        return _generate(partition)


def _generate(partition: _Slice):
    import datetime as dt

    n_dev = partition.n_devices
    n_types = len(DEVICE_TYPES)
    for i in range(partition.start, partition.end):
        dev = i % n_dev
        # multiplicative hash -> [0, 1000) "power permille", the
        # same arithmetic the DuckDB oracle replays verbatim
        h = (i * KNUTH) % 1000
        ts = dt.datetime.utcfromtimestamp(
            (BASE_EPOCH_US + i * STEP_US) / 1_000_000
        )
        yield (
            i,
            f"device_{dev:03d}",
            DEVICE_TYPES[dev % n_types],
            f"user_{dev % 2:03d}",
            ts,
            float(h) / 10.0,
        )


def register(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(SyntheticTelemetryDataSource)


class SyntheticTelemetryStreamReader(DataSourceStreamReader):
    """Streaming half of the source: offsets are plain row indices and
    the latest offset is ``n``, so an availableNow run drains exactly
    rows [0, n) and then stops. A micro-batch's offset range is split
    into ``batch``-row input partitions of the SAME deterministic row
    function the batch reader uses, so a restart replays any offset
    range byte-identically (the property that makes checkpoint
    recovery safe for a custom source)."""

    def __init__(self, options):
        self.n = int(options.get("n", "1000"))
        self.n_devices = int(options.get("n_devices", "10"))
        self.batch = max(1, int(options.get("batch", "500")))

    def initialOffset(self):
        return {"i": 0}

    def latestOffset(self):
        return {"i": self.n}

    def partitions(self, start, end):
        lo, hi = start["i"], end["i"]
        return [
            _Slice(s, min(s + self.batch, hi), self.n_devices)
            for s in range(lo, hi, self.batch)
        ]

    def read(self, partition: _Slice):
        return _generate(partition)
