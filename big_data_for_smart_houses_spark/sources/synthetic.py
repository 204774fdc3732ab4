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


# ---------------------------------------------------------------------------
# Deterministic scale-up (round 7): replicate the driver testdata by
# an integer factor for nonlinear-blowup sweeps
# ---------------------------------------------------------------------------

# Added to every per-copy id: larger than any id in any testdata table
# so copies never collide, and referential integrity holds WITHIN a
# copy (fact keys and their dimension keys shift together).
SCALE_KEY_STRIDE = 100_000_000

# id columns shifted per copy, by table (nation/region keys stay put —
# dimensions that are genuinely fixed-cardinality don't scale with
# data volume, matching how a real warehouse grows)
_SCALE_ID_COLS = {
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
}


def scale_up_tables(
    spark,
    src_dir: str,
    dst_dir: str,
    factor: int,
    tables: list[str] | None = None,
) -> None:
    """Materialize ``factor``× copies of the testdata tables under
    ``dst_dir`` — the input for the O(n^k) blowup sweep (SCALE.md):
    run a query at 1× and at factor×, and a wall-time ratio well above
    the factor exposes superlinear behavior that small-SF gates hide
    (round 6 found two O(gap²) windows exactly this way).

    The scale-up grows the data the way production data grows:

    * every id column shifts by ``copy · SCALE_KEY_STRIDE`` so per-key
      densities stay CONSTANT and key cardinality grows ``factor``×
      (more users/orders/docs — not hotter ones), with referential
      integrity intact within each copy;
    * document text gets a per-copy suffix token so exact/near-dup
      structure replicates linearly instead of every doc acquiring
      ``factor-1`` planted twins (which would grow pair counts
      quadratically — a data-SHAPE change, not a scale-up);
    * embeddings get a per-copy deterministic sign mask (copy 0 is
      the identity) — norms unchanged, within-copy geometry identical,
      cross-copy cosines decorrelated, so ANN/near-dup workloads
      scale in n rather than in planted duplicates;
    * nation/region pass through unscaled (fixed-cardinality dims).

    Everything is column-expression work — no RNG, no driver-side
    rows; reruns are bit-identical.
    """
    from pyspark.sql import functions as F

    tables = tables or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    for t in tables:
        df = spark.read.parquet(f"{src_dir}/{t}.parquet")
        if t in ("region", "nation"):
            df.write.mode("overwrite").parquet(f"{dst_dir}/{t}.parquet")
            continue
        copies = []
        for i in range(factor):
            c = df
            for col in _SCALE_ID_COLS.get(t, []):
                c = c.withColumn(
                    col, F.col(col) + F.lit(i * SCALE_KEY_STRIDE)
                )
            if t == "documents" and i > 0:
                # Suffix the copy tag onto EVERY word, not just the
                # document end: a trailing suffix leaves cross-copy
                # shingle sets ~90% shared, so at any realistic
                # near-dup threshold every doc still acquired
                # factor-1 twins and pair counts grew QUADRATICALLY
                # (round 8 measured 311 → 251k true pairs at 10×) —
                # exactly the data-shape change this generator
                # documents avoiding. Per-word tagging keeps the
                # within-copy shingle structure ISOMORPHIC to copy 0
                # (same blocking-bucket sizes, planted dups stay
                # near-dups) while making cross-copy shingles
                # disjoint (jaccard 0), so dup structure replicates
                # linearly. (An interleaved standalone tag token was
                # tried and rejected: every 2-gram then contains the
                # tag, degenerating shingle blocking to unigram
                # buckets — OOM at 10×.)
                c = c.withColumn(
                    "text",
                    F.regexp_replace(F.col("text"), r"(\S+)", f"$1c{i}"),
                ).withColumn("n_chars", F.length(F.col("text")))
            if t == "customer" and i > 0:
                # Same linear-dup contract for NAME strings (round 9
                # — the 10x sweep caught edit-distance pair counts
                # going quadratic because verbatim c_name copies gave
                # every name factor-1 identical twins and every
                # edit-1 pair a full copy x copy cross product):
                # append a DOUBLED-digit copy tag ("1" -> "11",
                # "12" -> "1122"). Any two distinct copy tags differ
                # by >= 2 edits (same length: one differing source
                # digit occupies two positions; different lengths:
                # >= 2 appended chars), and copy 0 is untagged (>= 2
                # appended chars away) — so cross-copy edit distance
                # is >= 2 everywhere and edit-1 structure replicates
                # EXACTLY per copy, while within-copy pairwise
                # distances are untouched (common suffix).
                tag = "".join(ch * 2 for ch in str(i))
                c = c.withColumn(
                    "c_name", F.concat(F.col("c_name"), F.lit(tag))
                )
            if t == "embeddings" and i > 0:
                c = c.withColumn(
                    "embedding",
                    F.expr(
                        f"transform(embedding, (x, j) -> x * CAST("
                        f"1 - 2 * ((CAST({i} AS INT) >> (j % 8)) & 1)"
                        f" AS FLOAT))"
                    ),
                )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{dst_dir}/{t}.parquet")
