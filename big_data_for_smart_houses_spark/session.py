"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every setting is chosen to be
correct on a multi-executor cluster too: AQE on (runtime coalescing,
skew-join splitting), UTC session timezone (parity with the DuckDB
oracle and with the reference's tz-aware silver timestamps,
reference consumer/bronze_to_silver.py:122), Arrow enabled for the
pandas-UDF extension operators.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# --- input-volume-aware shuffle sizing (round-10 verdict ask #4) ---
# The q17@1000x probe showed the one knob a real deployment sets:
# shuffle.partitions=256 cut the 600M-row SMJ + 20M-group aggregate
# from 131.6 s to 81.7 s by giving each sort partition a
# memory-resident slice. The profile derives that number from the
# job's INPUT VOLUME instead of leaving it in SCALE.md prose:
#   partitions = clamp(input_bytes * EXPANSION / TARGET, floor, cap)
# EXPANSION=3 models columnar-parquet -> row-oriented-shuffle
# inflation (snappy parquet of TPC-H facts decompresses ~3x into
# UnsafeRow shuffle payloads — measured on the 1000x probe: 11 GB of
# lineitem parquet drove an 8.8 GB q17 shuffle after projection, and
# wider plans exceed input bytes); TARGET=128 MB keeps a sorted
# partition comfortably inside a 1 GB-heap executor thread. Under
# gate SF (tens of MB) the formula lands below the floor, so gates
# keep the 32-partition parity layout untouched.
SCALE_PROFILE_TARGET_PARTITION_BYTES = 128 << 20
SCALE_PROFILE_SHUFFLE_EXPANSION = 3
SCALE_PROFILE_CAP = 4096


def scale_shuffle_partitions(
    input_bytes: int,
    floor: int | None = None,
    cap: int = SCALE_PROFILE_CAP,
) -> int:
    """Shuffle-partition count for a job reading ``input_bytes`` of
    columnar input: one partition per TARGET bytes of estimated
    shuffle payload, clamped to [floor, cap]. Calibrated on a TPC-H
    Q17 join at 1000x (11 GB lineitem -> ~246 partitions, the
    measured win); at gate SF it returns the floor, preserving
    oracle-parity layouts."""
    if input_bytes < 0:
        raise ValueError(f"input_bytes must be >= 0, got {input_bytes}")
    floor = DEFAULT_SHUFFLE_PARTITIONS if floor is None else floor
    est = input_bytes * SCALE_PROFILE_SHUFFLE_EXPANSION
    n = -(-est // SCALE_PROFILE_TARGET_PARTITION_BYTES)  # ceil div
    return max(floor, min(cap, int(n)))


def _local_input_bytes(*paths: str) -> int:
    """On-disk bytes of local parquet dirs/files. On a cluster the
    same number comes from the catalog/filesystem (table stats); the
    probe and local jobs walk the directory."""
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        else:
            for root, _dirs, files in os.walk(p):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
    return total


@contextmanager
def scale_profile(spark: SparkSession, *table_paths: str):
    """Size ``spark.sql.shuffle.partitions`` from the job's input
    volume (see :func:`scale_shuffle_partitions`) for the duration of
    the block, then restore the caller's previous value — so library
    entry points (plans/etl, the CLI ops) get the measured-correct
    layout at 100 TB without perturbing whatever layout the
    surrounding session pinned. Pass the paths the block actually
    reads; gates never call it — they pin the parity layout.

    The floor is the session's CURRENT partition count, not the
    static default: at gate/test SF the formula lands below it, so
    the block runs with the exact layout the caller already had —
    entry points stay byte-identical on small inputs under ANY
    pinned layout (32, 8, a randomized mirror layout, ...)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    n = scale_shuffle_partitions(
        _local_input_bytes(*table_paths), floor=int(prev)
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def get_spark(
    app_name: str = "big-data-for-smart-houses-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    At 100 TB the same code runs with a higher ``shuffle_partitions``
    (or simply relies on AQE coalescing from a large initial number);
    nothing else here is local-mode specific.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_for_oracle_parity(spark: SparkSession) -> SparkSession:
    """Pin runtime confs that affect value-level parity with DuckDB.

    The driver hands us its own SparkSession, so confs that matter for
    correctness (UTC timestamps; ANSI off so invalid casts yield null,
    matching the reference's coerce-to-NaN semantics at
    consumer/bronze_to_silver.py:136) are (re)applied here.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    except Exception as exc:  # non-modifiable in some deployments
        # Don't swallow this silently: under ANSI, invalid casts THROW
        # instead of yielding null, which changes P2's coerce-to-null
        # semantics. The dedup/sketch hash operators are ANSI-safe by
        # construction (xxhash64 rehash instead of multiply), and the
        # sampling module's multiplicative hashes compute on residues
        # so they cannot overflow at any id (extensions/sampling.
        # _salted_bucket) — only the cast paths are affected; surface
        # the condition.
        import warnings

        warnings.warn(
            f"could not disable spark.sql.ansi.enabled ({exc}); "
            "invalid-cast coercion will raise instead of yielding null"
        )
    return spark
