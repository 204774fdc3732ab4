"""Parquet sources and sinks.

Replaces the reference's manual file management — hand-built
``YYYY/MM/DD`` directory trees, per-file mtime pruning, and
``pd.concat`` unions (reference consumer/bronze_to_silver.py:38-110,
consumer/silver_to_gold.py:28-81, consumer/ingest_bronze.py:120-147) —
with Spark-native partitioned reads/writes where partition pruning,
predicate pushdown, and multi-file unions are Catalyst built-ins
(SURVEY.md §4).
"""

from __future__ import annotations

import atexit
import datetime as dt
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md): a single parquet file.

    Timestamp normalization, robust to how the driver generated the
    parquet:

    - ``events.ts`` as parquet TIMESTAMP(NANOS) (rejected by Spark by
      default): read as long nanos, truncate to µs — the same ns->µs
      truncation DuckDB applies, so oracle comparisons stay exact.
    - µs timestamps with ``isAdjustedToUTC=false`` (pyarrow's default
      ``timestamp[us]``): Spark 4 infers TIMESTAMP_NTZ, which breaks
      ``unix_micros``/``to_utc_timestamp`` call sites and diverges from
      the TIMESTAMP the rest of the engine (and the DuckDB oracle under
      a UTC session) expects. Cast every NTZ column to TIMESTAMP after
      pinning the session to UTC, so the cast preserves the wall clock
      and epoch arithmetic matches DuckDB's naive-timestamp arithmetic
      bit-for-bit.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ntz_cols}
        )
    return df


_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh directory for a gate's staged input, checkpoint and sink.

    Every one lives under one root per process, removed with its
    contents when the interpreter exits. Not sooner: gates return lazy
    reads over their sinks, and the streaming gates' memo hands the
    same DataFrame back on later calls, so the files must outlive the
    call that wrote them."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="smart_house_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the
    source plan has fewer partitions — only relevant for compute-bound
    narrow transforms (shingling, hashing, vector math) over small or
    single-row-group files, where the scan alone can't parallelize.

    At production scale the parquet scan already yields one split per
    ~``spark.sql.files.maxPartitionBytes``, the partition count exceeds
    default parallelism, and this is a no-op — so the extra shuffle is
    paid exactly when it is cheap (small inputs) and skipped when it
    would be expensive (large ones).

    Small-source detection uses ``inputFiles()`` (a listing-only
    planning call) rather than ``df.rdd.getNumPartitions()``, which
    would force a plan-to-RDD conversion on every call. Files larger
    than ``maxPartitionBytes`` yield multiple scan splits anyway, so
    a *large* single-file source gains partitions from the scan and
    the 32-way exchange here is bounded by target, never a reduction
    of a wide plan.
    """
    target = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = target  # non-file source: leave the plan alone
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def read_bronze(
    spark: SparkSession,
    path: str,
    since: dt.date | None = None,
    until: dt.date | None = None,
) -> DataFrame:
    """Scan the bronze layer with optional incremental pruning.

    ``since``/``until`` become predicates on the ``event_date``
    partition column -> Catalyst partition pruning (replaces the
    directory-walk pruning at reference consumer/bronze_to_silver.py:48-62).
    """
    df = spark.read.parquet(path)
    if since is not None:
        df = df.filter(F.col("event_date") >= F.lit(since))
    if until is not None:
        df = df.filter(F.col("event_date") <= F.lit(until))
    return df


def read_silver(
    spark: SparkSession,
    path: str,
    since: dt.date | None = None,
    until: dt.date | None = None,
) -> DataFrame:
    """Scan the silver layer, pruning on the ``date`` partition column
    (replaces reference consumer/silver_to_gold.py:28-48)."""
    df = spark.read.parquet(path)
    if since is not None:
        df = df.filter(F.col("date") >= F.lit(since))
    if until is not None:
        df = df.filter(F.col("date") <= F.lit(until))
    return df


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str = "date",
    mode: str = "append",
) -> None:
    """Event-date partitioned parquet sink.

    Replaces the reference's manual groupby-date + path-template writes
    (consumer/ingest_bronze.py:120-147, consumer/bronze_to_silver.py:277-309).
    At 100 TB the partition column keeps file counts sane and enables
    pruning for every downstream date-ranged read.
    """
    df.write.mode(mode).partitionBy(partition_col).parquet(path)


def write_snapshot(df: DataFrame, path: str) -> None:
    """Recompute-and-replace gold snapshot (reference
    consumer/silver_to_gold.py:277-312 writes timestamped snapshot files;
    overwrite of one logical table is the Spark-native equivalent)."""
    df.write.mode("overwrite").parquet(path)


DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def compact_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> int:
    """Small-file compaction — the OPTIMIZE half of a table format,
    expressed on plain parquet directories (the reference's per-flush
    writer, consumer/ingest_bronze.py:120-147, produces one file per
    30 s flush per date: ~2,880 files/day/partition, a classic
    100 TB-scale NameNode/S3-listing killer).

    File count is sized from the directory's actual on-disk bytes
    (Hadoop ContentSummary — no data scan), then one
    ``repartition(n)`` round-robin rewrite produces even ~target-size
    files. Round-robin (not coalesce) so a skewed input layout cannot
    produce skewed output files; the shuffle IS the point — one pass
    of the data, each output file written by one task. Returns the
    number of part files actually present in ``out_path`` after the
    rewrite — NOT the planned count: Spark emits no file for an
    empty partition (possible when the plan exceeds the row count),
    and because sizing uses the input's compressed bytes while the
    rewrite may recompress at a different ratio, output files can
    land off-target; the return value is the ground truth.

    Hive-partitioned inputs: the read surfaces partition columns as
    data and the rewrite flattens the layout. To compact WITHIN a
    partitioned table, run per partition directory (the natural unit
    anyway — compaction jobs at scale iterate recent partitions, not
    the whole table)."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hconf = jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    total_bytes = fs.getContentSummary(p).getLength()
    n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil
    df = spark.read.parquet(path)
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    out = jvm.org.apache.hadoop.fs.Path(out_path)
    written = 0
    it = fs.listFiles(out, False)
    while it.hasNext():
        name = it.next().getPath().getName()
        if name.startswith("part-"):
            written += 1
    return written
