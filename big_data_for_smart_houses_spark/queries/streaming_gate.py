"""Streaming-EXECUTED gate queries: CORRECTNESS rows produced by
actual Structured Streaming runs, not batch plans. Started round 5
with the stateful LOCF gate; the family now covers stateful
EWMA/LOCF/session ops, watermarked tumbling aggregation (default AND
RocksDB state stores), stream-stream interval joins (inner,
left-outer, full-outer, left-semi and left-anti), cross-batch dedup,
foreachBatch MERGE, the Python data source's streaming reader, and
crash-injected restart-recovery gates (SQL state and
applyInPandasWithState).

``locf_stream_availablenow`` drives the stateful streaming LOCF
operator (streaming/stateful.py:locf_stream — applyInPandasWithState,
one open-bucket row of state per key) over the driver's events table
via a file-source stream with ``trigger(availableNow=True)``, sinks to
parquet, and returns the sink. The DuckDB oracle replays the BATCH
gap-fill-LOCF semantics minus each key's final (still-open) bucket —
the operator's documented append-mode contract — so the hash gate
proves stream-vs-batch parity end to end through a real streaming
execution: state store, Arrow chunking, micro-batch plumbing and all.

Each execution stages its input, checkpoint and sink in a fresh
``sources.parquet.scratch_dir``, so every streaming run starts from a
clean checkpoint and produces identical output, and every run goes
through ``streaming.ingest.run_available_now``: start, wait at most
``_AWAIT_S``, stop and raise on a timeout, surface the stream's own
failure. The scratch directories are removed when the process exits,
not when the gate returns: a gate's result is a lazy read over its
sink. Repeat CALLS within one SparkSession return the first
execution's result via the module-tail memo (the driver calls each
query at least twice — rows, then values — and re-streaming a
deterministic gate buys no extra signal); set
SPARK_GRAFT_NO_STREAM_MEMO=1 to force every call to stream.
"""

from __future__ import annotations

import functools
import os
from contextlib import contextmanager

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import configure_for_oracle_parity
from ..sources.parquet import load_table, scratch_dir
from ..streaming.ingest import run_available_now
from ..streaming.stateful import locf_stream

LOCF_STEP_S = 3600
_AWAIT_S = 300

# The Spark version the streaming FINALITY BOUNDS baked into this
# module's oracles were MEASURED against (round-10 advice: they are
# engine internals, not documented contract, so pin the provenance):
#   - event-time stats are tracked in MILLISECONDS, so the watermark
#     is the ms-FLOORED max event time minus the delay;
#   - stream-stream join state-watermarks subtract a further 1 ms of
#     conservatism (StreamingJoinHelper) — outer/anti emission uses
#     `<= W*1000 - 1000` in integer µs;
#   - windowed/session AGGREGATES carry no -1 ms and emit on the
#     non-strict `end <= watermark`.
# On a Spark upgrade: re-run the boundary tests + Hypothesis property
# in tests/test_streaming.py (they drive engine vs oracle on sub-ms
# corpora and fail loudly on any drift), re-measure, and update this
# constant — tests/test_streaming.py asserts it matches the running
# pyspark so a version bump points HERE, not at a mystery hash-fail.
FINALITY_BOUNDS_MEASURED_SPARK = "4.1.2"


def _expect_injected_crash(exc: Exception) -> None:
    """Swallow a StreamingQueryException ONLY when it wraps this
    gate family's injected ``foreachBatch`` sentinel; anything else
    re-raises. A blanket ``pass`` here would hide a genuine stream
    failure behind the restart machinery — the reference's
    blanket-except habit is exactly how its enrichment bug shipped
    silently (SURVEY §1.3), and harness code shouldn't share it."""
    if "injected crash" not in str(exc):
        raise exc


def _crash_once_sink(out_dir: str, marker: str):
    """foreachBatch sink of the restart gates: the first attempt at
    batch 1 leaves ``marker`` and raises before writing any output;
    every batch lands in its own overwritten ``batch=<id>`` directory,
    so the retry after the restart is idempotent."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id == 1 and not os.path.exists(marker):
            with open(marker, "w") as fh:
                fh.write("crashed before batch 1 output\n")
            raise RuntimeError("injected crash: batch 1, first attempt")
        batch_df.write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}"
        )

    return _sink


def _crash_then_restart(make_writer, checkpoint: str, marker: str) -> None:
    """Run ``make_writer()`` until its injected crash, then start a new
    writer on the same checkpoint and drain. Fails loudly when the
    first run times out, finishes without crashing, dies of anything
    but the injected crash, or dies before the crash left ``marker``,
    and when the restarted run times out."""
    try:
        run_available_now(make_writer(), checkpoint, _AWAIT_S)
    except StreamingQueryException as exc:
        _expect_injected_crash(exc)
    else:
        raise AssertionError(
            "injected crash never fired — restart not exercised"
        )
    if not os.path.exists(marker):
        raise AssertionError("query failed before the injected crash")
    run_available_now(make_writer(), checkpoint, _AWAIT_S)


def _parquet_sink(df: DataFrame, out_dir: str):
    """The gates' append-mode parquet file sink, unstarted."""
    return (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
    )


# Streaming state cost scales with the PARTITION count, not the data:
# every stateful operator materializes one state store per shuffle
# partition (per side, for joins) per micro-batch. The gates size the
# partition count to their key rate (150 users) instead of inheriting
# the batch-oriented session default — the same lever a production
# job sets per stream. Checkpoints are fresh per call, so the count
# binds cleanly; the conf is restored either way. Round 7 measured the
# split at sf0.1: JVM-state operators (aggregates, joins, dedup) are
# commit-bound — 4 partitions cuts their warm wall time 13-21% (fewer
# per-batch state-store commits, identical output) — while
# applyInPandasWithState operators are PYTHON-bound (per-partition
# Arrow + pandas fold), so halving their partitions halves their
# parallelism and costs ~40%; they keep 8.
STREAM_STATE_PARTITIONS = 4
PYSTATE_STREAM_PARTITIONS = 8


@contextmanager
def _stream_state_partitions(
    spark: SparkSession, n: int = STREAM_STATE_PARTITIONS
):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def q_locf_stream_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Run the streaming LOCF gap-fill over the events table as a real
    availableNow stream and return the parquet sink's contents.

    The input is staged as ONE file so the whole table arrives in one
    micro-batch (the operator drops cross-batch late events by
    contract — a watermark's job, not this gate's); within the batch
    the fold sorts the entire per-key group, so Arrow chunk order is
    irrelevant (the round-5 chunk fix, exercised here end to end)."""
    configure_for_oracle_parity(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    tmp = scratch_dir("locf_stream_gate_")
    staged = f"{tmp}/staged"
    out_dir = f"{tmp}/out"
    # arrow staging (round 9): same bytes, milliseconds instead of a
    # Spark write job — see _arrow_stage
    _arrow_stage(staged, (_arrow_events(sf_dir, ["user_id", "ts", "value"]),))
    stream = spark.readStream.schema(ev.schema).parquet(staged)
    with _stream_state_partitions(spark, PYSTATE_STREAM_PARTITIONS):
        run_available_now(
            _parquet_sink(locf_stream(stream, LOCF_STEP_S), out_dir),
            f"{tmp}/ckpt",
            _AWAIT_S,
        )
    return spark.read.parquet(out_dir).select(
        "user_id", "bucket_time", "value", "is_gap"
    )


# Batch LOCF oracle (mirrors stats_gate.ORACLE_GAPFILL_LOCF_EVENTS)
# with the grid stopping BEFORE each key's max bucket: range(lo, hi)
# instead of range(lo, hi + step) — the stream withholds the open
# bucket until a later event closes it, which never comes.
ORACLE_LOCF_STREAM_AVAILABLENOW = f"""
WITH obs AS (
  SELECT user_id,
         (epoch_us(ts) // {LOCF_STEP_S * 1_000_000}) * {LOCF_STEP_S}
           AS bucket_ts,
         ts, value
  FROM events
),
ranked AS (
  SELECT user_id, bucket_ts, value,
         row_number() OVER (
           PARTITION BY user_id, bucket_ts
           ORDER BY ts DESC, value DESC) AS rn
  FROM obs
),
per_bucket AS (
  SELECT user_id, bucket_ts, value AS observed FROM ranked WHERE rn = 1
),
span AS (
  SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi
  FROM obs GROUP BY 1
),
grid AS (
  SELECT user_id,
         unnest(range(lo, hi, {LOCF_STEP_S})) AS bucket_ts
  FROM span
)
SELECT g.user_id,
       make_timestamp(g.bucket_ts * 1000000) AS bucket_time,
       last_value(p.observed IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       p.observed IS NULL AS is_gap
FROM grid g
LEFT JOIN per_bucket p USING (user_id, bucket_ts)
"""

def q_ewma_stream_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming EWMA through a real availableNow run, hash-matched
    against the batch recursive-CTE oracle (the ``ewma_events``
    oracle verbatim): unlike LOCF the stream emits EVERY row, so
    stream output == full batch answer with no open-bucket carve-out.
    The fold's float64 recurrence (``0.25·v + 0.75·last``) is the
    same IEEE expression the CTE evaluates, so after the float32
    gate quantization the match is bit-exact."""
    from ..functions.numeric import quantize_cols
    from ..streaming.stateful import ewma_stream

    configure_for_oracle_parity(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value", "event_id"
    )
    tmp = scratch_dir("ewma_stream_gate_")
    staged = f"{tmp}/staged"
    out_dir = f"{tmp}/out"
    _arrow_stage(
        staged,
        (_arrow_events(sf_dir, ["user_id", "ts", "value", "event_id"]),),
    )
    stream = spark.readStream.schema(ev.schema).parquet(staged)
    with _stream_state_partitions(spark, PYSTATE_STREAM_PARTITIONS):
        run_available_now(
            _parquet_sink(ewma_stream(stream), out_dir),
            f"{tmp}/ckpt",
            _AWAIT_S,
        )
    out = spark.read.parquet(out_dir).select(
        "user_id", "ts", "event_id", "value", "ewma"
    )
    return quantize_cols(out, "ewma")


ORACLE_EWMA_STREAM_AVAILABLENOW = """
WITH RECURSIVE r AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
s(user_id, ts, event_id, value, rn, ewma) AS (
  SELECT user_id, ts, event_id, value, rn, value FROM r WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.ts, r.event_id, r.value, r.rn,
         0.25 * r.value + 0.75 * s.ewma
  FROM r JOIN s ON r.user_id = s.user_id AND r.rn = s.rn + 1
)
SELECT user_id, ts, event_id, value,
       CAST(CAST(ewma AS REAL) AS DOUBLE) AS ewma
FROM s
"""

STREAM_JOIN_LOOKBACK_S = 6 * 3600


def _stage_side(
    spark: SparkSession,
    ev: DataFrame,
    sf_dir: str,
    tmp: str,
    kind: str,
    id_alias: str,
    ts_alias: str,
) -> DataFrame:
    """One side of the stream-join gates: the events rows of ``kind``
    as (user_id, id_alias, ts_alias), staged as one file and read back
    as a file stream. Each side is staged pre-filtered and
    pre-projected, so the stream scans only its own rows and columns
    (filter pushdown BEFORE the state store, the shape that matters
    when each side is a distinct Kafka topic at scale); arrow staging
    (round 14) runs no Spark write job per side."""
    path = f"{tmp}/staged_{kind}"
    _arrow_stage(
        path, (_arrow_events_side(sf_dir, kind, id_alias, ts_alias),)
    )
    schema = ev.select(
        "user_id",
        F.col("event_id").alias(id_alias),
        F.col("ts").alias(ts_alias),
    ).schema
    return spark.readStream.schema(schema).parquet(path)


def _run_stream_join(
    spark: SparkSession, sf_dir: str, prefix: str, how: str
) -> DataFrame:
    """Each purchase joined to the same user's clicks from the
    preceding six hours (streaming/joins.py:stream_interval_join, join
    mode ``how``), both sides read as independent file-source streams
    over the staged events table, run as one availableNow stream into
    a parquet sink; returns the sink's rows."""
    configure_for_oracle_parity(spark)
    from ..streaming.joins import stream_interval_join

    ev = load_table(spark, sf_dir, "events")
    tmp = scratch_dir(prefix)
    joined = stream_interval_join(
        _stage_side(
            spark, ev, sf_dir, tmp, "purchase", "purchase_id", "purchase_ts"
        ),
        _stage_side(spark, ev, sf_dir, tmp, "click", "click_id", "click_ts"),
        on="user_id",
        left_ts="purchase_ts",
        right_ts="click_ts",
        lookback_seconds=STREAM_JOIN_LOOKBACK_S,
        watermark_delay="6 hours",
        how=how,
    )
    with _stream_state_partitions(spark):
        run_available_now(
            _parquet_sink(joined, f"{tmp}/out"), f"{tmp}/ckpt", _AWAIT_S
        )
    return spark.read.parquet(f"{tmp}/out")


def q_stream_join_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream interval join (streaming/joins.py:
    stream_interval_join) executed as a real availableNow run: each
    purchase joined to the same user's clicks from the preceding six
    hours, both sides read as independent file-source streams over the
    staged events table. The two-sided event-time bound plus the
    watermarks is what lets Spark GC both state buffers at scale
    (state ~ key-rate x lookback, independent of stream length); an
    inner join emits matches as soon as both rows are in state, so
    with both sides arriving in one micro-batch the streamed answer
    equals the batch range join the DuckDB oracle runs."""
    out = _run_stream_join(spark, sf_dir, "stream_join_gate_", "inner")
    return out.select(
        "user_id", "purchase_id", "purchase_ts", "click_id", "click_ts"
    )


ORACLE_STREAM_JOIN_AVAILABLENOW = f"""
SELECT p.user_id,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       c.event_id AS click_id,
       c.ts AS click_ts
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_LOOKBACK_S} SECOND
 AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


def q_stream_outer_join_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the semantics the
    inner gate can't prove: an unmatched purchase must emit
    NULL-padded, but only once the watermark makes "no click will
    ever match" FINAL (l_ts < watermark). availableNow's closing
    no-data batch advances the global watermark to
    min(max purchase_ts, max click_ts) − delay, so the emitted set is
    exactly: all matches, plus null rows for unmatched purchases
    strictly below that bound — which is what the DuckDB oracle
    states in closed form. Purchases newer than the bound stay in
    state, withheld (the correct streaming answer, not a gate
    artifact). State cost is identical to the inner join: key-rate ×
    lookback per side, watermark-GC'd."""
    out = _run_stream_join(spark, sf_dir, "stream_ojoin_gate_", "left_outer")
    return out.select(
        "user_id", "purchase_id", "purchase_ts", "click_id", "click_ts"
    )


ORACLE_STREAM_OUTER_JOIN_AVAILABLENOW = f"""
WITH p AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'click'),
wm AS (SELECT least((SELECT epoch_us(max(ts)) // 1000 FROM p),
                    (SELECT epoch_us(max(ts)) // 1000 FROM c))
              * 1000 - {6 * 3600 * 1000000} AS w_us),
matched AS (
  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
         c.event_id AS click_id, c.ts AS click_ts
  FROM p JOIN c
    ON c.user_id = p.user_id
   AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_LOOKBACK_S} SECOND
   AND c.ts <= p.ts
)
SELECT * FROM matched
UNION ALL
SELECT p.user_id, p.event_id, p.ts,
       CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
FROM p CROSS JOIN wm
WHERE epoch_us(p.ts) <= wm.w_us - 1000
  AND NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = p.user_id
      AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_LOOKBACK_S} SECOND
      AND c.ts <= p.ts)
"""


def q_stream_dedup_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T6's at-least-once -> effectively-once dedup
    (streaming/ingest.py:dedup_stream_within_watermark,
    ``dropDuplicatesWithinWatermark``) on the hash path: the events
    table is staged TWICE and consumed one file per micro-batch, so
    every row is redelivered in a later batch and must be dropped by
    the state store ACROSS batches — the exact Kafka-redelivery shape.
    The 35-day horizon covers the table's 30-day span, so no row is
    late; duplicate payloads are byte-identical, so whichever copy
    wins, the emitted set equals the original table (the DuckDB
    oracle). State is O(keys per horizon), never O(stream)."""
    configure_for_oracle_parity(spark)
    from ..streaming.ingest import dedup_stream_within_watermark

    ev = load_table(spark, sf_dir, "events")
    tmp = scratch_dir("stream_dedup_gate_")
    staged = f"{tmp}/staged"
    out_dir = f"{tmp}/out"
    _src = _arrow_events(sf_dir)
    _arrow_stage(staged, (_src, _src))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    deduped = dedup_stream_within_watermark(
        stream, keys=["event_id"], ts_col="ts", watermark_delay="35 days"
    )
    with _stream_state_partitions(spark):
        run_available_now(
            _parquet_sink(deduped, out_dir), f"{tmp}/ckpt", _AWAIT_S
        )
    return spark.read.parquet(out_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


ORACLE_STREAM_DEDUP_AVAILABLENOW = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""

TUMBLE_WM_S = 3600


def q_stream_tumbling_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The canonical Structured Streaming shape — watermark + tumbling
    event-time window + append-mode aggregation (T4 executed as a
    stream, not a batch plan): hourly count/sum/max per event type.
    After the staged file's micro-batch, availableNow's no-data batch
    advances the watermark to ``max(ts) - 1 h`` and append mode emits
    exactly the windows whose end <= watermark (the same inclusive
    closure probed by the session gate); the most recent hour stays
    withheld in state. The DuckDB oracle replays the batch hourly
    rollup under that closure predicate. The double sum is
    order-sensitive, so it ships through the float32 gate quantization
    like every other summed gate column."""
    configure_for_oracle_parity(spark)
    from ..functions.numeric import quantize_cols

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    tmp = scratch_dir("stream_tumble_gate_")
    staged = f"{tmp}/staged"
    out_dir = f"{tmp}/out"
    # arrow staging (round 14): same bytes/schema, milliseconds
    # instead of a Spark write job — see _arrow_stage
    _arrow_stage(staged, (_arrow_events(sf_dir, ev.schema.names),))
    stream = spark.readStream.schema(ev.schema).parquet(staged)
    agg = (
        stream.withWatermark("ts", f"{TUMBLE_WM_S} seconds")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
            F.max("value").alias("value_max"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
            "value_max",
        )
    )
    with _stream_state_partitions(spark):
        run_available_now(
            _parquet_sink(agg, out_dir), f"{tmp}/ckpt", _AWAIT_S
        )
    return quantize_cols(
        spark.read.parquet(out_dir).select(
            "window_start", "event_type", "n_events", "value_sum", "value_max"
        ),
        "value_sum",
    )


ORACLE_STREAM_TUMBLING_AVAILABLENOW = f"""
WITH agg AS (
  SELECT date_trunc('hour', ts) AS window_start,
         event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(CAST(sum(value) AS REAL) AS DOUBLE) AS value_sum,
         max(value) AS value_max
  FROM events
  GROUP BY 1, 2
),
wm AS (SELECT max(ts) - INTERVAL {TUMBLE_WM_S} SECOND AS w FROM events)
SELECT a.window_start, a.event_type, a.n_events, a.value_sum, a.value_max
FROM agg a CROSS JOIN wm
WHERE a.window_start + INTERVAL 1 HOUR <= wm.w
"""


def q_stream_merge_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming incremental maintenance: ``foreachBatch`` applies
    each micro-batch of CDC updates to a keyed parquet table through
    the batch MERGE operator (operators/merge.py:merge_upsert) — the
    no-table-format Delta answer executed as an actual stream. Two
    update batches (price revisions stamped _version 2 and 3 for every
    3rd and 5th order key) arrive one file per trigger; each batch
    does a read-merge-write into the next versioned state directory
    (never overwriting a directory being read). Version-ordered MERGE
    is commutative across distinct versions, so the final state is
    independent of file arrival order; the DuckDB oracle states it in
    closed form. State I/O per batch is |table|, the expected cost of
    a partition-rewriting MERGE without a table format."""
    configure_for_oracle_parity(spark)
    from ..operators.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    tmp = scratch_dir("stream_merge_gate_")
    base = orders.withColumn("_version", F.lit(1))
    base.write.mode("overwrite").parquet(f"{tmp}/state/v0")
    for ver, mod, mult in ((2, 3, 1.1), (3, 5, 1.2)):
        (
            orders.filter(F.col("o_orderkey") % mod == 0)
            .select(
                "o_orderkey",
                (F.col("o_totalprice") * mult).alias("o_totalprice"),
                F.lit(ver).alias("_version"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{tmp}/updates/b{ver}")
        )
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(f"{tmp}/updates")
    )
    cursor = {"v": 0}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cur = spark.read.parquet(f"{tmp}/state/v{cursor['v']}")
        merged = merge_upsert(
            cur, batch_df, keys=["o_orderkey"], order_col="_version"
        )
        merged.write.mode("overwrite").parquet(
            f"{tmp}/state/v{cursor['v'] + 1}"
        )
        cursor["v"] += 1

    with _stream_state_partitions(spark):
        run_available_now(
            stream.writeStream.foreachBatch(_apply), f"{tmp}/ckpt", _AWAIT_S
        )
    return spark.read.parquet(f"{tmp}/state/v{cursor['v']}").select(
        "o_orderkey", "o_totalprice", "_version"
    )


ORACLE_STREAM_MERGE_AVAILABLENOW = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.2
            WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
            ELSE o_totalprice END AS o_totalprice,
       CAST(CASE WHEN o_orderkey % 5 = 0 THEN 3
                 WHEN o_orderkey % 3 = 0 THEN 2
                 ELSE 1 END AS INT) AS _version
FROM orders
"""


RESTART_WM_S = 3600


def q_stream_restart_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once RESTART RECOVERY on the hash path: the tumbling
    hourly aggregation runs as a real availableNow stream whose first
    attempt is crashed by an injected ``foreachBatch`` failure on
    micro-batch 1 — AFTER batch 0 committed offsets and state — and a
    second ``start()`` on the same checkpoint must recover the state
    store and source offsets, re-run the failed batch, and drain.

    The input is split into two files by a row hash (each hour's
    events straddle both files), consumed one file per trigger, so
    every window's count/sum mixes state recovered from the
    checkpoint with rows ingested after the restart: lose the state
    store and the counts are wrong; replay batch 0 and they double —
    either way the hash gate fails. The crash fires BEFORE the batch
    writes output and each batch lands in its own overwritten
    ``batch=<id>`` directory, so the retry is idempotent. The DuckDB
    oracle replays the batch rollup under append-mode's watermark
    closure (windows with end <= max(ts) - 1 h), exactly the tumbling
    gate's contract — the restart must be semantically invisible."""
    configure_for_oracle_parity(spark)
    from ..functions.numeric import quantize_cols

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    tmp = scratch_dir("stream_restart_gate_")
    staged = f"{tmp}/staged"
    out_dir = f"{tmp}/out"
    marker = f"{tmp}/crashed_once"
    halved = ev.withColumn(
        "_half", F.pmod(F.hash("ts", "event_type", "value"), F.lit(2))
    )
    for h in (0, 1):
        halved.filter(F.col("_half") == h).drop("_half").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{staged}/half={h}")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(staged)
    )
    agg = (
        stream.withWatermark("ts", f"{RESTART_WM_S} seconds")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
    sink = _crash_once_sink(out_dir, marker)
    with _stream_state_partitions(spark):
        _crash_then_restart(
            lambda: agg.writeStream.foreachBatch(sink).outputMode("append"),
            f"{tmp}/ckpt",
            marker,
        )
    return quantize_cols(
        spark.read.option("recursiveFileLookup", "true")
        .parquet(out_dir)
        .select("window_start", "event_type", "n_events", "value_sum"),
        "value_sum",
    )


ORACLE_STREAM_RESTART_AVAILABLENOW = f"""
WITH agg AS (
  SELECT date_trunc('hour', ts) AS window_start,
         event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(CAST(sum(value) AS REAL) AS DOUBLE) AS value_sum
  FROM events
  GROUP BY 1, 2
),
wm AS (SELECT max(ts) - INTERVAL {RESTART_WM_S} SECOND AS w FROM events)
SELECT a.window_start, a.event_type, a.n_events, a.value_sum
FROM agg a CROSS JOIN wm
WHERE a.window_start + INTERVAL 1 HOUR <= wm.w
"""


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def q_stream_rocksdb_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The tumbling-window aggregation executed on the **RocksDB
    state store provider** — the production state backend once
    streaming state outgrows the default in-memory HDFS-backed store
    (at 100 TB key rates, state must spill to disk and snapshot
    incrementally; RocksDB is Spark's answer, and an engine claiming
    streaming-at-scale has to run on it, not just default-store
    unit tests). Same watermark-closure contract and oracle as
    `stream_tumbling_availablenow`, so the gate proves provider
    SWAP-equivalence: identical hash through a different state
    engine. The provider conf binds at stream start and is restored
    after; the checkpoint is fresh per call so the binding is
    clean."""
    configure_for_oracle_parity(spark)
    from ..functions.numeric import quantize_cols

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    tmp = scratch_dir("stream_rocksdb_gate_")
    staged = f"{tmp}/staged"
    out_dir = f"{tmp}/out"
    # arrow staging (round 14): same bytes/schema, milliseconds
    # instead of a Spark write job — see _arrow_stage
    _arrow_stage(staged, (_arrow_events(sf_dir, ev.schema.names),))
    stream = spark.readStream.schema(ev.schema).parquet(staged)
    agg = (
        stream.withWatermark("ts", f"{TUMBLE_WM_S} seconds")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
            F.max("value").alias("value_max"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
            "value_max",
        )
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    try:
        with _stream_state_partitions(spark):
            run_available_now(
                _parquet_sink(agg, out_dir), f"{tmp}/ckpt", _AWAIT_S
            )
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    return quantize_cols(
        spark.read.parquet(out_dir).select(
            "window_start", "event_type", "n_events", "value_sum", "value_max"
        ),
        "value_sum",
    )


QUERIES = {
    "locf_stream_availablenow": q_locf_stream_availablenow,
    "ewma_stream_availablenow": q_ewma_stream_availablenow,
    "stream_join_availablenow": q_stream_join_availablenow,
    "stream_dedup_availablenow": q_stream_dedup_availablenow,
    "stream_tumbling_availablenow": q_stream_tumbling_availablenow,
    "stream_merge_availablenow": q_stream_merge_availablenow,
    "stream_restart_availablenow": q_stream_restart_availablenow,
    "stream_rocksdb_availablenow": q_stream_rocksdb_availablenow,
    "stream_outer_join_availablenow": q_stream_outer_join_availablenow,
}

ORACLES = {
    "locf_stream_availablenow": ORACLE_LOCF_STREAM_AVAILABLENOW,
    "ewma_stream_availablenow": ORACLE_EWMA_STREAM_AVAILABLENOW,
    "stream_join_availablenow": ORACLE_STREAM_JOIN_AVAILABLENOW,
    "stream_dedup_availablenow": ORACLE_STREAM_DEDUP_AVAILABLENOW,
    "stream_tumbling_availablenow": ORACLE_STREAM_TUMBLING_AVAILABLENOW,
    "stream_merge_availablenow": ORACLE_STREAM_MERGE_AVAILABLENOW,
    "stream_restart_availablenow": ORACLE_STREAM_RESTART_AVAILABLENOW,
    # provider swap must be value-invariant: same oracle as tumbling
    "stream_rocksdb_availablenow": ORACLE_STREAM_TUMBLING_AVAILABLENOW,
    "stream_outer_join_availablenow": ORACLE_STREAM_OUTER_JOIN_AVAILABLENOW,
}


SYNTH_STREAM_N = 2000
SYNTH_STREAM_BATCH = 512


def q_synthetic_stream_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The custom Python Data Source's STREAMING half
    (sources/synthetic.py:SyntheticTelemetryStreamReader — Spark 4's
    ``DataSourceStreamReader``): row-index offsets with the latest
    offset at ``n``, read as 512-row input partitions of the same
    RNG-free row function the batch reader plans. An availableNow run
    drains exactly rows [0, n) and stops, so the sink holds the same
    generate_series oracle as the batch gate, at stream n. sf_dir is
    unused: the source IS the data."""
    from ..sources.synthetic import register

    configure_for_oracle_parity(spark)
    register(spark)
    tmp = scratch_dir("synth_stream_gate_")
    out_dir = f"{tmp}/out"
    stream = (
        spark.readStream.format("synthetic_telemetry")
        .option("n", str(SYNTH_STREAM_N))
        .option("batch", str(SYNTH_STREAM_BATCH))
        .load()
    )
    run_available_now(
        _parquet_sink(stream, out_dir), f"{tmp}/ckpt", _AWAIT_S
    )
    return spark.read.parquet(out_dir)


ORACLE_SYNTHETIC_STREAM_AVAILABLENOW = f"""
SELECT i AS row_id,
       printf('device_%03d', i % 10) AS device_id,
       ['thermostat','smart_bulb','smart_plug','security_camera',
        'motion_sensor'][(i % 10) % 5 + 1] AS device_type,
       printf('user_%03d', (i % 10) % 2) AS user_id,
       make_timestamp(1704067200000000 + i * 1000000) AS ts,
       CAST((i * 2654435761) % 1000 AS DOUBLE) / 10.0 AS power_usage
FROM (SELECT unnest(generate_series(0, {SYNTH_STREAM_N - 1})) AS i)
"""

QUERIES["synthetic_stream_availablenow"] = q_synthetic_stream_availablenow
ORACLES["synthetic_stream_availablenow"] = (
    ORACLE_SYNTHETIC_STREAM_AVAILABLENOW
)


LOCF_SPLIT_TS = "2024-01-15"
STREAM_SPLIT_TS = "2024-01-15"


def q_stream_restart_pystate_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Crash-restart recovery of PYTHON state
    (`applyInPandasWithState`): the streaming LOCF operator's state is
    an open-bucket row per key living in the state store across
    micro-batches, and this gate proves it survives a crash. The
    events table is split by TIME (before/after LOCF_SPLIT_TS) into two
    files consumed one per trigger — later-batch events are strictly
    newer, so the operator's drop-late contract never fires and the
    two-batch answer equals the one-batch answer. An injected
    foreachBatch failure kills the first attempt AFTER batch 0
    committed its offsets and Arrow-serialized state; the second
    ``start()`` must restore that state (every key's open bucket),
    re-run batch 1, fold the boundary bucket correctly, and drain.
    Oracle: the batch LOCF closure (ORACLE_LOCF_STREAM_AVAILABLENOW,
    shared) — lost state would double-emit or mis-fill every key
    whose span crosses the file boundary. File arrival order is
    forced via explicit mtimes (the file source lists by modification
    time)."""
    configure_for_oracle_parity(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    tmp = scratch_dir("locf_restart_gate_")
    staged = f"{tmp}/staged"
    out_dir = f"{tmp}/out"
    marker = f"{tmp}/crashed_once"
    # arrow staging (round 9): same time-split bytes, milliseconds
    # instead of two Spark write jobs
    _arrow_stage(
        staged,
        _arrow_time_split(
            _arrow_events(sf_dir, ["user_id", "ts", "value"]),
            "ts",
            LOCF_SPLIT_TS,
        ),
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    sink = _crash_once_sink(out_dir, marker)
    with _stream_state_partitions(spark, PYSTATE_STREAM_PARTITIONS):
        _crash_then_restart(
            lambda: locf_stream(stream, LOCF_STEP_S)
            .writeStream.foreachBatch(sink)
            .outputMode("append"),
            f"{tmp}/ckpt",
            marker,
        )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(out_dir)
        .select("user_id", "bucket_time", "value", "is_gap")
    )


QUERIES["stream_restart_pystate_availablenow"] = (
    q_stream_restart_pystate_availablenow
)
# same closure as the single-batch LOCF gate: the restart must be
# semantically invisible
ORACLES["stream_restart_pystate_availablenow"] = (
    ORACLE_LOCF_STREAM_AVAILABLENOW
)


def q_stream_torture_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production-config torture gate — all three hard streaming
    properties in ONE run: a LEFT-OUTER stream-stream interval join
    (trailing null emission) whose two-sided state lives on the
    **RocksDB** provider, crashed by an injected foreachBatch failure
    after batch 0 commits and restarted from the checkpoint. Each
    side arrives as two time-split files (one per trigger), so join
    state built before the crash must survive the RocksDB
    restore for the post-restart batches to find their matches, and
    the watermark that finalizes the outer nulls must resume from
    checkpointed offsets. Oracle: the same closed-form closure as
    `stream_outer_join_availablenow` — crash, state backend, and
    multi-batch arrival must all be semantically invisible."""
    configure_for_oracle_parity(spark)
    from ..streaming.joins import stream_interval_join

    tmp = scratch_dir("stream_torture_gate_")
    out_dir = f"{tmp}/out"
    marker = f"{tmp}/crashed_once"

    import pyarrow.compute as pc

    src = _arrow_events(
        sf_dir, ["event_id", "ts", "user_id", "event_type"]
    )

    def _side(kind: str, id_alias: str, ts_alias: str) -> DataFrame:
        # arrow staging (round 9): filter/project/rename driver-side,
        # then two mtime-ordered time-split trigger files — replaces
        # four Spark write jobs
        tbl = (
            src.filter(pc.equal(src.column("event_type"), kind))
            .select(["user_id", "event_id", "ts"])
            .rename_columns(["user_id", id_alias, ts_alias])
        )
        root = f"{tmp}/staged_{kind}"
        _arrow_stage(
            root, _arrow_time_split(tbl, ts_alias, str(STREAM_SPLIT_TS))
        )
        return (
            spark.readStream.schema(
                f"user_id long, {id_alias} long, {ts_alias} timestamp"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(root)
        )

    joined = stream_interval_join(
        _side("purchase", "purchase_id", "purchase_ts"),
        _side("click", "click_id", "click_ts"),
        on="user_id",
        left_ts="purchase_ts",
        right_ts="click_ts",
        lookback_seconds=STREAM_JOIN_LOOKBACK_S,
        watermark_delay="6 hours",
        how="left_outer",
    )
    sink = _crash_once_sink(out_dir, marker)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    try:
        with _stream_state_partitions(spark):
            _crash_then_restart(
                lambda: joined.writeStream.foreachBatch(sink).outputMode(
                    "append"
                ),
                f"{tmp}/ckpt",
                marker,
            )
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(out_dir)
        .select(
            "user_id", "purchase_id", "purchase_ts", "click_id", "click_ts"
        )
    )


QUERIES["stream_torture_availablenow"] = q_stream_torture_availablenow
ORACLES["stream_torture_availablenow"] = (
    ORACLE_STREAM_OUTER_JOIN_AVAILABLENOW
)


# ---------------------------------------------------------------------------
# Streaming CDC apply: foreachBatch + merge_upsert into a versioned table
# ---------------------------------------------------------------------------

def _stage_upsert_inputs(spark, orders, tmp: str):
    """Shared staging for the CDC-upsert gate pair (clean run +
    crash-restart): write the version-0 base table and two
    mtime-ordered OVERLAPPING update batches (batch 1: +100 on even
    keys; batch 2: +500 on keys % 5 == 0 — a key touched by both
    must show batch 2's value). One copy, because both gates share
    ORACLE_STREAM_UPSERT_AVAILABLENOW — the deltas, filters, and
    listing order must never drift apart. Returns the staged stream
    schema."""
    base = orders.withColumn("version", F.lit(0))
    base.write.mode("overwrite").parquet(f"{tmp}/table/v0")
    updates = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
        .withColumn("version", F.lit(1)),
        orders.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 500.0)
        .withColumn("version", F.lit(2)),
    )
    for i, u in enumerate(updates):
        path = f"{tmp}/staged/batch={i}"
        u.coalesce(1).write.mode("overwrite").parquet(path)
        # force listing order: the file source orders by mtime
        for root, _dirs, files in os.walk(path):
            for fname in files:
                os.utime(
                    os.path.join(root, fname), (1000 + i, 1000 + i)
                )
    return base.schema


def _upsert_final_state(spark, table_path: str):
    """Shared final projection for the CDC-upsert gate pair."""
    return spark.read.parquet(table_path).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("version").cast("int").alias("version"),
    )


def q_stream_upsert_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE production streaming-sink pattern the format-specific MERGE
    sinks (Delta/Iceberg) wrap: a CDC stream applied transactionally
    per micro-batch via ``foreachBatch`` + operators/merge.py's
    ``merge_upsert``, last-writer-wins per key by version. Two update
    batches are staged with forced mtime order (batch 1: +100 on even
    keys; batch 2: +500 on keys % 5 == 0 — OVERLAPPING, so a key
    touched by both must show batch 2's value) and applied one per
    micro-batch on top of the version-0 base table. Each batch writes
    a NEW versioned snapshot directory and flips the current pointer
    only after the write completes — readers never observe a partial
    table (the swap discipline a table format provides; plain parquet
    does it with directory versions, exactly like merge.py's
    as_of_version machinery). The oracle replays the same three-way
    union with arg_max(price, version) per key. Doubles survive
    untouched (+100.0 / +500.0 are exact), so the gate needs no
    quantization."""
    configure_for_oracle_parity(spark)
    from ..operators.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    tmp = scratch_dir("stream_upsert_gate_")
    staged = f"{tmp}/staged"
    schema = _stage_upsert_inputs(spark, orders, tmp)

    current = {"path": f"{tmp}/table/v0", "next": 1}

    def _apply(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tbl = spark.read.parquet(current["path"])
        merged = merge_upsert(
            tbl,
            batch_df,
            keys=["o_orderkey"],
            order_col="version",
        )
        new_path = f"{tmp}/table/v{current['next']}"
        merged.write.mode("overwrite").parquet(new_path)
        current["path"] = new_path
        current["next"] += 1

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(staged)
    )
    with _stream_state_partitions(spark):
        run_available_now(
            stream.writeStream.foreachBatch(_apply), f"{tmp}/ckpt", _AWAIT_S
        )
    return _upsert_final_state(spark, current["path"])


ORACLE_STREAM_UPSERT_AVAILABLENOW = """
WITH all_rows AS (
  SELECT o_orderkey, o_totalprice, 0 AS version FROM orders
  UNION ALL
  SELECT o_orderkey, o_totalprice + 100.0, 1 FROM orders
  WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice + 500.0, 2 FROM orders
  WHERE o_orderkey % 5 = 0
)
SELECT o_orderkey,
       arg_max(o_totalprice, version) AS price,
       CAST(max(version) AS INTEGER) AS version
FROM all_rows
GROUP BY o_orderkey
"""

QUERIES["stream_upsert_availablenow"] = q_stream_upsert_availablenow
ORACLES["stream_upsert_availablenow"] = ORACLE_STREAM_UPSERT_AVAILABLENOW


def q_stream_upsert_restart_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Crash-restart IDEMPOTENCE of the foreachBatch CDC sink — the
    failure mode that corrupts naive merge sinks in production: the
    injected crash fires AFTER batch 1's versioned table write
    completes but BEFORE its checkpoint offset commits, so on restart
    the engine redelivers batch 1 and the merge is applied TWICE to a
    table that already contains those rows. merge_upsert is
    idempotent by construction (same key, same version stamp — the
    updates-win tie rule replaces equal rows with equal rows), and
    the current-table pointer is recomputed from the max on-disk
    version directory, not driver memory, so the restart sees the
    post-crash state exactly as a recovering job would. Final state
    must hash-equal the single-application oracle — the same closure
    as stream_upsert_availablenow."""
    import re

    configure_for_oracle_parity(spark)
    from ..operators.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    tmp = scratch_dir("stream_upsert_restart_gate_")
    staged = f"{tmp}/staged"
    table_root = f"{tmp}/table"
    marker = f"{tmp}/crashed_once"
    schema = _stage_upsert_inputs(spark, orders, tmp)

    def _current_version() -> int:
        vs = [
            int(m.group(1))
            for d in os.listdir(table_root)
            if (m := re.fullmatch(r"v(\d+)", d))
        ]
        return max(vs)

    def _apply(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cur = _current_version()
        tbl = spark.read.parquet(f"{table_root}/v{cur}")
        merged = merge_upsert(
            tbl, batch_df, keys=["o_orderkey"], order_col="version"
        )
        merged.write.mode("overwrite").parquet(
            f"{table_root}/v{cur + 1}"
        )
        # crash AFTER the table write, BEFORE the checkpoint commit:
        # restart must redeliver this batch and re-merge idempotently
        if batch_id == 1 and not os.path.exists(marker):
            with open(marker, "w") as fh:
                fh.write("crashed after batch 1 table write\n")
            raise RuntimeError(
                "injected crash: batch 1 written, offset uncommitted"
            )

    def _writer():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(staged)
            .writeStream.foreachBatch(_apply)
        )

    with _stream_state_partitions(spark):
        _crash_then_restart(_writer, f"{tmp}/ckpt", marker)
    return _upsert_final_state(
        spark, f"{table_root}/v{_current_version()}"
    )


QUERIES["stream_upsert_restart_availablenow"] = (
    q_stream_upsert_restart_availablenow
)
# the restart must be semantically invisible: same closure as the
# clean-run upsert gate
ORACLES["stream_upsert_restart_availablenow"] = (
    ORACLE_STREAM_UPSERT_AVAILABLENOW
)


# ---------------------------------------------------------------------------
# Event-time timeout: the state-lifecycle branch executed
# ---------------------------------------------------------------------------

TIMEOUT_GAP_S = 1800
TIMEOUT_WM_S = 600


# planted bridging pattern (round-9 re-certification): a user whose
# batch-1 events gap-close a session that a batch-2 event — admissible
# under the watermark — then BRIDGES back to the open tail. The
# round-8 tracker emitted the gap-closed session on in-batch evidence
# and produced a spurious row here; the watermark-gated tracker holds
# it in pending state. Offsets are seconds past max(events.ts).
TIMEOUT_PLANT_UID = 1_000_000_000
TIMEOUT_PLANT_B1_OFFS = (1000, 2801)   # gap-closed pair (2801-1000 > gap)
TIMEOUT_PLANT_B2_OFF = 2500            # bridges: 1500 and 301, both <= gap

# Additional batch-1 plants (round 9, for the re-arm state gate):
# offsets chosen against wm = max+2801s floored to ms minus 600 s, so
# with gap = 1800 s a session's finality instant fin = off + 1800 s
# compares to wm = +2201 s EXACTLY in integer milliseconds (offsets
# are whole seconds added to the corpus max, so the sub-ms fraction
# cancels):
#   uid+1 (500, 2700): two islands, both pending (fins 2300/4500 s),
#     min_fin strictly above wm — the plain re-arm branch, with a
#     multi-interval state row;
#   uid+2 (100, 2750): island one EMITS at the firing (fin 1900 <
#     2201), island two stays pending — re-arm AFTER a firing;
#   uid+3 (401,): single island with fin == wm to the millisecond —
#     the strict-> boundary: the timeout armed at fin never fires
#     (wm is not > fin) and the session stays pending forever, the
#     documented "later sessions stay in state".
TIMEOUT_EXTRA_B1 = (
    (TIMEOUT_PLANT_UID + 1, (500, 2700)),
    (TIMEOUT_PLANT_UID + 2, (100, 2750)),
    (TIMEOUT_PLANT_UID + 3, (401,)),
)


def _timeout_inp_sql() -> str:
    """The planted input as a DuckDB CTE body — generated from the
    SAME plant spec the arrow staging uses, so the two can never
    drift."""
    rows = [
        (TIMEOUT_PLANT_UID, off) for off in TIMEOUT_PLANT_B1_OFFS
    ]
    rows += [
        (uid, off) for uid, offs in TIMEOUT_EXTRA_B1 for off in offs
    ]
    rows.append((TIMEOUT_PLANT_UID, TIMEOUT_PLANT_B2_OFF))
    unions = "\n".join(
        f"  UNION ALL SELECT {uid}, max(ts) + INTERVAL {off} SECOND"
        f" FROM events"
        for uid, off in rows
    )
    return f"SELECT user_id, ts FROM events\n{unions}"


_TIMEOUT_INP = _timeout_inp_sql()


def _arrow_events(sf_dir: str, columns=None):
    """Read the events table driver-locally with pyarrow (staging
    through Spark jobs costs seconds per gate where arrow is
    milliseconds; the input is gate-scale — it feeds a
    single-directory file stream either way). ``columns=None`` reads
    every column in parquet order.

    Timestamp columns are normalized to ``timestamp[us, UTC]`` before
    staging — the SAME ns->µs truncation + naive->UTC interpretation
    ``load_table`` applies on the Spark side — so the staged file
    always matches ``ev.schema`` (TimestampType, epoch µs) regardless
    of the source parquet's flavor (TIMESTAMP(NANOS), naive µs, or
    tz-adjusted). Without this, a ns-flavored driver parquet would be
    re-staged as ns and the file stream would error or read 1000x-off
    values where the old Spark-write staging path was robust."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pa.concat_tables(
        pq.read_table(f, columns=list(columns) if columns else None)
        for f in sorted(
            _glob.glob(f"{sf_dir}/events.parquet/*.parquet")
            or [f"{sf_dir}/events.parquet"]
        )
    ).combine_chunks()
    target = pa.timestamp("us", tz="UTC")
    for i, field in enumerate(tbl.schema):
        if pa.types.is_timestamp(field.type) and field.type != target:
            # safe=False permits ns->µs truncation (epochs here are
            # positive, so truncation == the floor division DuckDB
            # and load_table apply); a naive source gains tz=UTC,
            # preserving the epoch exactly like load_table's
            # UTC-session NTZ->TZ cast.
            col = pc.cast(tbl.column(i), target, safe=False)
            tbl = tbl.set_column(i, field.with_type(target), col)
    return tbl


def _arrow_stage(staged: str, batches) -> None:
    """Write each pyarrow table as ONE parquet file with forced
    mtimes (the file source lists by modification time), so
    maxFilesPerTrigger=1 delivers them as consecutive micro-batches
    in order."""
    import pyarrow.parquet as pq

    os.makedirs(staged)
    for i, tbl in enumerate(batches):
        path = f"{staged}/batch{i}.parquet"
        pq.write_table(tbl, path)
        os.utime(path, (1000 + i, 1000 + i))


def _arrow_time_split(tbl, ts_col: str, split_iso: str):
    """Split an arrow table into (< split, >= split) halves — the
    driver-local form of the gates' two-trigger time staging."""
    import datetime as _dt

    import pyarrow as pa
    import pyarrow.compute as pc

    split = pa.scalar(
        _dt.datetime.fromisoformat(split_iso),
        type=tbl.schema.field(ts_col).type,
    )
    mask = pc.less(tbl.column(ts_col), split)
    return tbl.filter(mask), tbl.filter(pc.invert(mask))


def _arrow_events_side(sf_dir: str, kind: str, id_alias: str, ts_alias: str):
    """The join gates' per-side staging in arrow (round 14): events
    rows with ``event_type == kind`` projected/renamed to
    (user_id, id_alias, ts_alias) — byte-identical content to the
    former ``ev.filter(...).select(...).coalesce(1).write`` Spark job
    at milliseconds instead of a job per side."""
    import pyarrow.compute as pc

    t = _arrow_events(sf_dir, ["user_id", "event_id", "ts", "event_type"])
    t = t.filter(pc.equal(t.column("event_type"), kind))
    return t.select(["user_id", "event_id", "ts"]).rename_columns(
        ["user_id", id_alias, ts_alias]
    )


def _plant_rows(src, offsets, uid=TIMEOUT_PLANT_UID):
    """Rows for the planted bridge device: (uid, max(src.ts) + off)
    for each offset, in the src schema's own timestamp type."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ts_type = src.schema.field("ts").type
    mx_us = pc.max(src.column("ts")).cast(pa.timestamp("us")).value
    return pa.table(
        {
            "user_id": pa.array([uid] * len(offsets), pa.int64()),
            "ts": pa.array(
                [mx_us + off * 1_000_000 for off in offsets],
                pa.timestamp("us"),
            ).cast(ts_type),
        }
    )


def q_stream_timeout_sessions_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``GroupStateTimeout.EventTimeTimeout`` on the hash path — the
    Python-state lifecycle branch (``state.hasTimedOut`` →
    ``state.remove()``) that every NoTimeout operator skips:
    gap-sessionize per user (30-min gap, 10-min watermark delay) with
    WATERMARK-GATED emission — a session row appears only once
    ``end + gap`` is strictly below the watermark, because in append
    mode a premature row can never be retracted (round-9 fix). The
    input arrives as TWO mtime-ordered files (one per trigger) and
    plants the bridging pattern the round-8 tracker got wrong: a
    batch-1 gap-closed pair for one user whose batch-2 event is
    admissible (above the post-batch-1 watermark) yet within gap of
    BOTH sides — the engine must merge all three into one pending
    session and emit nothing for that user. The oracle replays batch
    session islands over the same planted input and applies the
    engine's exact finality predicate in integer milliseconds
    (``epoch_us//1000`` — Spark floors event-time to ms before
    subtracting the delay), labeling each user's last session
    'timeout' and the rest 'gap'. A premature emission, a missed
    timeout, a doubled row, or state resurrected after remove() each
    changes the row set and hash-fails.

    ``closed_by`` is deliberately NOT hashed (round-10, advice):
    the label is emission-time lifecycle metadata — 'timeout' means
    the key's state fully drained at emission — and in append mode no
    split-invariant, future-proof labeling exists (a key that drains
    mid-stream and later receives admissible data gets a second
    'timeout' row, where a whole-corpus oracle would call the first
    one 'gap'). Hashing it would bind the gate to an UNOBSERVABLE
    corpus precondition (no post-drain data for any emitting key).
    The label's semantics are pinned by unit tests instead
    (tests/test_sessions.py, including the multi-batch divergence
    shape)."""
    out_dir, _ck = _run_timeout_sessions(spark, sf_dir)
    return spark.read.parquet(out_dir).select(
        "user_id", "session_start", "session_end", "n_events"
    )


def _run_timeout_sessions(spark: SparkSession, sf_dir: str):
    configure_for_oracle_parity(spark)
    import pyarrow as pa

    from ..streaming.stateful import track_sessions_timeout

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    # arrow-staged two trigger files; planted offsets are relative to
    # the corpus max so the pattern survives any sf
    src = _arrow_events(sf_dir, ["user_id", "ts"])
    tmp = scratch_dir("stream_timeout_gate_")
    staged = f"{tmp}/staged"
    out_dir = f"{tmp}/out"
    ck = f"{tmp}/ckpt"
    _arrow_stage(
        staged,
        (
            pa.concat_tables(
                [src, _plant_rows(src, TIMEOUT_PLANT_B1_OFFS)]
                + [
                    _plant_rows(src, offs, uid=uid)
                    for uid, offs in TIMEOUT_EXTRA_B1
                ]
            ),
            _plant_rows(src, (TIMEOUT_PLANT_B2_OFF,)),
        ),
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .withWatermark("ts", f"{TIMEOUT_WM_S} seconds")
    )
    with _stream_state_partitions(spark, PYSTATE_STREAM_PARTITIONS):
        run_available_now(
            _parquet_sink(
                track_sessions_timeout(stream, TIMEOUT_GAP_S), out_dir
            ),
            ck,
            _AWAIT_S,
        )
    return out_dir, ck


ORACLE_STREAM_TIMEOUT_SESSIONS_AVAILABLENOW = f"""
WITH inp AS (
{_TIMEOUT_INP}
),
seq AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL {TIMEOUT_GAP_S} SECOND
              THEN 1 ELSE 0 END AS new_s
  FROM inp
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING
         ) AS seq
  FROM seq
),
agg AS (
  SELECT user_id, seq,
         min(ts) AS session_start,
         max(ts) AS session_end,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sess GROUP BY 1, 2
),
wm AS (
  -- the engine's exact watermark arithmetic: event-time max floored
  -- to MILLISECONDS before the delay subtraction (Spark divides the
  -- microsecond timestamp by 1000), all in BIGINT
  SELECT epoch_us(max(ts)) // 1000 - {TIMEOUT_WM_S * 1000} AS w_ms
  FROM inp
)
SELECT a.user_id, a.session_start, a.session_end, a.n_events
FROM agg a
CROSS JOIN wm
WHERE epoch_us(a.session_end) // 1000 + {TIMEOUT_GAP_S * 1000} < wm.w_ms
"""

QUERIES["stream_timeout_sessions_availablenow"] = (
    q_stream_timeout_sessions_availablenow
)
ORACLES["stream_timeout_sessions_availablenow"] = (
    ORACLE_STREAM_TIMEOUT_SESSIONS_AVAILABLENOW
)


def q_statestore_timeout_rearm_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """State-level verification of the timeout tracker's RE-ARM
    logic — the subtlest part of the round-9 fix: after the same
    two-file planted run as ``stream_timeout_sessions_availablenow``,
    read the checkpoint back through the ``statestore`` source and
    return every PENDING session together with the key's ARMED
    ``timeoutTimestamp`` (ms). The oracle derives both in closed
    form: pending = session islands with ``end_ms + gap_ms >= wm``
    (the exact complement of the emission gate), and the armed
    instant replays the operator's ``max(min pending finality,
    wm + 1)`` rule — ``min_fin`` when it is strictly above the final
    watermark; ``wm + 1`` when a key whose earliest pending finality
    EQUALS the watermark was re-armed during a firing or a data call
    (it emitted something, or is the planted batch-2 user); and
    ``wm`` itself for a key armed once at watermark 0 whose timeout
    then never fired (strict ``>``). A wrong clamp, a re-arm at the
    wrong minimum, or a timeout surviving state removal each changes
    a value and hash-fails."""
    _out, ck = _run_timeout_sessions(spark, sf_dir)
    st = spark.read.format("statestore").option("path", ck).load()
    return (
        st.select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.timeoutTimestamp").alias("timeout_ms"),
            F.arrays_zip(
                F.col("value.groupState.starts_us").alias("s"),
                F.col("value.groupState.lasts_us").alias("e"),
                F.col("value.groupState.counts").alias("c"),
            ).alias("z"),
        )
        .select("user_id", "timeout_ms", F.explode("z").alias("p"))
        .select(
            "user_id",
            F.timestamp_micros(F.col("p.s")).alias("session_start"),
            F.timestamp_micros(F.col("p.e")).alias("session_end"),
            F.col("p.c").alias("n_events"),
            "timeout_ms",
        )
    )


ORACLE_STATESTORE_TIMEOUT_REARM = f"""
WITH inp AS (
{_TIMEOUT_INP}
),
seq AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL {TIMEOUT_GAP_S} SECOND
              THEN 1 ELSE 0 END AS new_s
  FROM inp
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING
         ) AS seq
  FROM seq
),
agg AS (
  SELECT user_id, seq,
         min(ts) AS session_start,
         max(ts) AS session_end,
         CAST(count(*) AS BIGINT) AS n_events,
         epoch_us(max(ts)) // 1000 + {TIMEOUT_GAP_S * 1000} AS fin_ms
  FROM sess GROUP BY 1, 2
),
wm AS (
  SELECT epoch_us(max(ts)) // 1000 - {TIMEOUT_WM_S * 1000} AS w_ms
  FROM inp
),
pend AS (
  SELECT a.* FROM agg a CROSS JOIN wm WHERE a.fin_ms >= wm.w_ms
),
per_user AS (
  SELECT user_id, min(fin_ms) AS min_fin FROM pend GROUP BY 1
),
fired AS (
  SELECT DISTINCT a.user_id
  FROM agg a CROSS JOIN wm WHERE a.fin_ms < wm.w_ms
)
SELECT p.user_id, p.session_start, p.session_end, p.n_events,
       CASE
         WHEN u.min_fin > wm.w_ms THEN u.min_fin
         WHEN f.user_id IS NOT NULL
              OR p.user_id = {TIMEOUT_PLANT_UID} THEN wm.w_ms + 1
         ELSE wm.w_ms
       END AS timeout_ms
FROM pend p
JOIN per_user u ON p.user_id = u.user_id
LEFT JOIN fired f ON p.user_id = f.user_id
CROSS JOIN wm
"""

QUERIES["statestore_timeout_rearm_availablenow"] = (
    q_statestore_timeout_rearm_availablenow
)
ORACLES["statestore_timeout_rearm_availablenow"] = (
    ORACLE_STATESTORE_TIMEOUT_REARM
)


# ---------------------------------------------------------------------------
# NoTimeout session tracker on the hash path + statestore read-back of
# the pending-interval state (round 9: the session family's two
# remaining surfaces — track_device_sessions had only unit coverage,
# and the new LIST-state schema deserves its own state-level gate)
# ---------------------------------------------------------------------------

DEVSESS_GAP_S = 1800


def q_stream_device_sessions_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The NoTimeout session tracker (streaming/stateful.py:
    track_device_sessions — reference semantics from the unused
    DEVICE_OFFLINE_THRESHOLD, reference config/config.py:83) executed
    on the hash path: gap-sessionize per device (user_id cast to the
    tracker's string key) with the 2*gap SAFE-CLOSURE frontier — a
    session is emitted only once its end is more than 2*gap behind
    the device's max seen timestamp, because the feeding contract
    admits events up to gap late and such an event can bridge
    anything closer (the round-9 fix). The input arrives as two
    mtime-ordered trigger files planting the same bridging pattern as
    the timeout gate: a batch-1 gap-closed pair whose batch-2 event
    (admissible: 1500 s <= gap behind the device max) rejoins all
    three events into ONE pending session — a tracker that emits on
    in-batch gap evidence produces a spurious row and hash-fails.
    The oracle replays batch session islands per device and applies
    the frontier predicate in integer microseconds — exact, no
    float, no watermark rounding (this variant has no watermark)."""
    return _run_device_sessions(spark, sf_dir)


def _run_device_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_for_oracle_parity(spark)
    import pyarrow as pa

    from ..streaming.stateful import track_device_sessions

    src = _arrow_events(sf_dir, ["user_id", "ts"])
    tmp = scratch_dir("stream_devsess_gate_")
    staged = f"{tmp}/staged"
    out_dir = f"{tmp}/out"
    _arrow_stage(
        staged,
        (
            pa.concat_tables(
                [src, _plant_rows(src, TIMEOUT_PLANT_B1_OFFS)]
            ),
            _plant_rows(src, (TIMEOUT_PLANT_B2_OFF,)),
        ),
    )
    schema = "user_id long, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .select(
            F.col("user_id").cast("string").alias("device_id"),
            F.col("ts").alias("timestamp"),
        )
    )
    with _stream_state_partitions(spark, PYSTATE_STREAM_PARTITIONS):
        run_available_now(
            _parquet_sink(
                track_device_sessions(stream, DEVSESS_GAP_S), out_dir
            ),
            f"{tmp}/ckpt",
            _AWAIT_S,
        )
    return spark.read.parquet(out_dir).select(
        "device_id", "session_start", "session_end", "n_events"
    )


_DEVSESS_INP = f"""
  SELECT CAST(user_id AS VARCHAR) AS device_id, ts FROM events
  UNION ALL
  SELECT CAST({TIMEOUT_PLANT_UID} AS VARCHAR),
         max(ts) + INTERVAL {TIMEOUT_PLANT_B1_OFFS[0]} SECOND FROM events
  UNION ALL
  SELECT CAST({TIMEOUT_PLANT_UID} AS VARCHAR),
         max(ts) + INTERVAL {TIMEOUT_PLANT_B1_OFFS[1]} SECOND FROM events
  UNION ALL
  SELECT CAST({TIMEOUT_PLANT_UID} AS VARCHAR),
         max(ts) + INTERVAL {TIMEOUT_PLANT_B2_OFF} SECOND FROM events
"""

_DEVSESS_ISLANDS = f"""
seq AS (
  SELECT device_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL {DEVSESS_GAP_S} SECOND
              THEN 1 ELSE 0 END AS new_s
  FROM inp
  WINDOW w AS (PARTITION BY device_id ORDER BY ts)
),
sess AS (
  SELECT device_id, ts,
         sum(new_s) OVER (
           PARTITION BY device_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING
         ) AS seq
  FROM seq
),
agg AS (
  SELECT device_id, seq,
         min(ts) AS session_start,
         max(ts) AS session_end,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sess GROUP BY 1, 2
),
mx AS (SELECT device_id, max(ts) AS m FROM inp GROUP BY 1)
"""

ORACLE_STREAM_DEVICE_SESSIONS_AVAILABLENOW = f"""
WITH inp AS ({_DEVSESS_INP}),
{_DEVSESS_ISLANDS}
SELECT a.device_id, a.session_start, a.session_end, a.n_events
FROM agg a JOIN mx ON a.device_id = mx.device_id
WHERE epoch_us(a.session_end)
      < epoch_us(mx.m) - {2 * DEVSESS_GAP_S * 1_000_000}
"""

QUERIES["stream_device_sessions_availablenow"] = (
    q_stream_device_sessions_availablenow
)
ORACLES["stream_device_sessions_availablenow"] = (
    ORACLE_STREAM_DEVICE_SESSIONS_AVAILABLENOW
)


def q_rocksdb_pysessions_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The pending-interval Python session state on the **RocksDB
    state store provider**: identical two-batch planted run and
    oracle as ``stream_device_sessions_availablenow``, executed on
    the production state backend — provider swap-equivalence for
    applyInPandasWithState with ARRAY-typed state (the existing
    RocksDB gate covers only JVM aggregation state; list-valued
    Python state crossing the Arrow boundary into RocksDB and back
    across micro-batches is a different serialization path, and at
    100 TB key rates the disk-backed store is the one that
    matters). Conf binds at stream start, restored after; fresh
    checkpoint per call."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    try:
        return _run_device_sessions(spark, sf_dir)
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


QUERIES["rocksdb_pysessions_availablenow"] = (
    q_rocksdb_pysessions_availablenow
)
ORACLES["rocksdb_pysessions_availablenow"] = (
    ORACLE_STREAM_DEVICE_SESSIONS_AVAILABLENOW
)


def q_statestore_sessions_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """State-LEVEL gate for the round-9 pending-interval schema: run
    the NoTimeout session tracker over the planted corpus as ONE
    micro-batch, then read the checkpoint back with
    ``spark.read.format("statestore")`` and EXPLODE the array-typed
    group state (starts_us/lasts_us/counts parallel arrays) into one
    row per pending session. The oracle is the exact complement of
    the emission gate: per-device session islands whose end is
    WITHIN 2*gap of the device max — so emitted + pending must
    partition the island set, and a tracker that drops a pending
    session (or emits it early) fails one gate or the other. Also
    the driver-visible proof that list-valued Python group state
    round-trips the state store intact (values, not just counts)."""
    configure_for_oracle_parity(spark)
    import pyarrow as pa

    from ..streaming.stateful import track_device_sessions

    src = _arrow_events(sf_dir, ["user_id", "ts"])
    tmp = scratch_dir("statestore_sess_gate_")
    staged = f"{tmp}/staged"
    _arrow_stage(
        staged,
        (
            pa.concat_tables(
                [
                    src,
                    _plant_rows(
                        src,
                        TIMEOUT_PLANT_B1_OFFS
                        + (TIMEOUT_PLANT_B2_OFF,),
                    ),
                ]
            ),
        ),
    )
    schema = "user_id long, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .parquet(staged)
        .select(
            F.col("user_id").cast("string").alias("device_id"),
            F.col("ts").alias("timestamp"),
        )
    )
    ck = f"{tmp}/ckpt"
    with _stream_state_partitions(spark, PYSTATE_STREAM_PARTITIONS):
        run_available_now(
            _parquet_sink(
                track_device_sessions(stream, DEVSESS_GAP_S), f"{tmp}/out"
            ),
            ck,
            _AWAIT_S,
        )
    st = spark.read.format("statestore").option("path", ck).load()
    return (
        st.select(
            F.col("key.device_id").alias("device_id"),
            F.arrays_zip(
                F.col("value.groupState.starts_us").alias("s"),
                F.col("value.groupState.lasts_us").alias("e"),
                F.col("value.groupState.counts").alias("c"),
            ).alias("z"),
        )
        .select("device_id", F.explode("z").alias("p"))
        .select(
            "device_id",
            F.timestamp_micros(F.col("p.s")).alias("session_start"),
            F.timestamp_micros(F.col("p.e")).alias("session_end"),
            F.col("p.c").alias("n_events"),
        )
    )


ORACLE_STATESTORE_SESSIONS_AVAILABLENOW = f"""
WITH inp AS ({_DEVSESS_INP}),
{_DEVSESS_ISLANDS}
SELECT a.device_id, a.session_start, a.session_end, a.n_events
FROM agg a JOIN mx ON a.device_id = mx.device_id
WHERE epoch_us(a.session_end)
      >= epoch_us(mx.m) - {2 * DEVSESS_GAP_S * 1_000_000}
"""

QUERIES["statestore_sessions_availablenow"] = (
    q_statestore_sessions_availablenow
)
ORACLES["statestore_sessions_availablenow"] = (
    ORACLE_STATESTORE_SESSIONS_AVAILABLENOW
)


# ---------------------------------------------------------------------------
# UPDATE output mode: changed-groups emission, no watermark closure
# ---------------------------------------------------------------------------

def q_stream_update_mode_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UPDATE output mode on the hash path — every windowed gate so
    far runs append, whose defining behavior is the watermark
    closure (`end <= wm`) withholding open windows; update mode is
    the OTHER emission contract: every group CHANGED in a batch is
    emitted that batch, open or not. With the whole table staged as
    one file, the single data batch changes every group exactly
    once and the no-data watermark batch changes none, so the
    emitted set is ALL hourly windows (including the final
    still-open hour the tumbling gate must withhold) exactly once —
    the oracle is the plain unclosured GROUP BY, and the DIFFERENCE
    from `stream_tumbling_availablenow`'s oracle (which applies the
    closure) is precisely the mode semantics under test. The file
    sink rejects update mode, so a foreachBatch parquet-append sink
    carries the rows — the standard update-mode sink shape."""
    configure_for_oracle_parity(spark)
    from ..functions.numeric import quantize_cols

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    tmp = scratch_dir("stream_update_gate_")
    staged = f"{tmp}/staged"
    out_dir = f"{tmp}/out"
    # arrow staging (round 14): same bytes/schema, milliseconds
    # instead of a Spark write job — see _arrow_stage
    _arrow_stage(staged, (_arrow_events(sf_dir, ev.schema.names),))
    stream = spark.readStream.schema(ev.schema).parquet(staged)
    agg = (
        stream.withWatermark("ts", f"{TUMBLE_WM_S} seconds")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )

    def _sink(bdf, _bid):
        bdf.write.mode("append").parquet(out_dir)

    with _stream_state_partitions(spark):
        run_available_now(
            agg.writeStream.foreachBatch(_sink).outputMode("update"),
            f"{tmp}/ckpt",
            _AWAIT_S,
        )
    return quantize_cols(
        spark.read.parquet(out_dir).select(
            "window_start", "event_type", "n_events", "value_sum"
        ),
        "value_sum",
    )


ORACLE_STREAM_UPDATE_MODE_AVAILABLENOW = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(CAST(sum(value) AS REAL) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
"""

QUERIES["stream_update_mode_availablenow"] = (
    q_stream_update_mode_availablenow
)
ORACLES["stream_update_mode_availablenow"] = (
    ORACLE_STREAM_UPDATE_MODE_AVAILABLENOW
)


def q_stream_fullouter_join_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL OUTER stream-stream interval join — the remaining join
    mode (inner and left-outer are gated above), whose new semantics
    is the RIGHT side's finality rule: an unmatched click can still
    match a FUTURE purchase until the watermark passes click_ts +
    lookback (the left-arrival window the condition admits), so
    null-padded clicks emit `lookback` later than null-padded
    purchases (whose rule is purchase_ts < watermark, same as the
    left-outer gate). availableNow's closing no-data batch advances
    the watermark to min(max purchase_ts, max click_ts) − delay; the
    DuckDB oracle states the full emitted set in closed form:
    matches ∪ unmatched purchases strictly below the bound ∪
    unmatched clicks with click_ts + lookback strictly below the
    bound (strict — a row AT the bound could still match a left row
    arriving exactly at the watermark). Rows above their bound stay
    in state, withheld: the correct streaming answer."""
    out = _run_stream_join(spark, sf_dir, "stream_fojoin_gate_", "full_outer")
    return out.select(
        "user_id", "purchase_id", "purchase_ts", "click_id", "click_ts"
    )


ORACLE_STREAM_FULLOUTER_JOIN_AVAILABLENOW = f"""
WITH p AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'click'),
wm AS (SELECT least((SELECT epoch_us(max(ts)) // 1000 FROM p),
                    (SELECT epoch_us(max(ts)) // 1000 FROM c))
              * 1000 - {6 * 3600 * 1000000} AS w_us),
matched AS (
  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
         c.event_id AS click_id, c.ts AS click_ts
  FROM p JOIN c
    ON c.user_id = p.user_id
   AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_LOOKBACK_S} SECOND
   AND c.ts <= p.ts
)
SELECT * FROM matched
UNION ALL
SELECT p.user_id, p.event_id, p.ts,
       CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
FROM p CROSS JOIN wm
WHERE epoch_us(p.ts) <= wm.w_us - 1000
  AND NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = p.user_id
      AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_LOOKBACK_S} SECOND
      AND c.ts <= p.ts)
UNION ALL
SELECT c.user_id, CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
       c.event_id, c.ts
FROM c CROSS JOIN wm
WHERE epoch_us(c.ts)
        <= wm.w_us - {STREAM_JOIN_LOOKBACK_S * 1000000} - 1000
  AND NOT EXISTS (
    SELECT 1 FROM p
    WHERE p.user_id = c.user_id
      AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_LOOKBACK_S} SECOND
      AND c.ts <= p.ts)
"""

QUERIES["stream_fullouter_join_availablenow"] = (
    q_stream_fullouter_join_availablenow
)
ORACLES["stream_fullouter_join_availablenow"] = (
    ORACLE_STREAM_FULLOUTER_JOIN_AVAILABLENOW
)


def q_stream_semi_join_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT SEMI stream-stream interval join — the streaming EXISTS,
    completing the join-mode matrix (inner / left-outer / full-outer
    / semi). Each purchase emits (left columns only, exactly once) as
    soon as one same-user click from the preceding six hours is in
    state; no row is ever null-padded and no duplication occurs no
    matter how many clicks match. Unlike the outer gates, emission
    needs NO finality decision, so with both sides arriving in one
    micro-batch the emitted set is the complete batch EXISTS answer —
    nothing trails the watermark — which is exactly what the oracle
    states."""
    out = _run_stream_join(spark, sf_dir, "stream_sjoin_gate_", "left_semi")
    return out.select("user_id", "purchase_id", "purchase_ts")


ORACLE_STREAM_SEMI_JOIN_AVAILABLENOW = f"""
SELECT p.user_id,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts
FROM events p
WHERE p.event_type = 'purchase'
  AND EXISTS (
    SELECT 1 FROM events c
    WHERE c.event_type = 'click'
      AND c.user_id = p.user_id
      AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_LOOKBACK_S} SECOND
      AND c.ts <= p.ts)
"""

QUERIES["stream_semi_join_availablenow"] = q_stream_semi_join_availablenow
ORACLES["stream_semi_join_availablenow"] = (
    ORACLE_STREAM_SEMI_JOIN_AVAILABLENOW
)


def q_stream_left_anti_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT ANTI via the standard emulation (round-10
    verdict ask #6) — the join mode Spark lacks natively and the
    dedup/decontam streaming story hits the first time a user asks
    'which events never matched': purchases with NO click in the
    preceding 6 h window, as a real availableNow run through
    streaming/joins.py's ``how='left_anti'`` (left_outer +
    watermark-gated null-side filter on the right TIME column, which
    the interval condition forces non-null on every match). FINALITY
    SEMANTICS under test (measured to the microsecond — see
    tests/test_streaming.py boundary test): an unmatched purchase
    emits exactly once when ``epoch_us(ts) <= W*1000 - 1000``, where
    ``W`` = min of the two sides' MILLISECOND-FLOORED max event
    times minus the 6 h delay — Spark tracks event-time stats in ms
    and its join state-watermark subtracts a further 1 ms of
    conservatism — the same left-side rule the left-outer and
    full-outer gates pin; rows above the bound stay withheld in
    state: the correct streaming NOT EXISTS answer. The oracle
    states that set in closed form in the same integer-µs
    arithmetic; a premature emission, a doubled row, a matched row
    leaking through, or a missing left-columns projection each
    hash-fails."""
    out = _run_stream_join(spark, sf_dir, "stream_antijoin_gate_", "left_anti")
    return out.select("user_id", "purchase_id", "purchase_ts")


ORACLE_STREAM_LEFT_ANTI_AVAILABLENOW = f"""
WITH p AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'click'),
wm AS (SELECT least((SELECT epoch_us(max(ts)) // 1000 FROM p),
                    (SELECT epoch_us(max(ts)) // 1000 FROM c))
              * 1000 - {6 * 3600 * 1000000} AS w_us)
SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts
FROM p CROSS JOIN wm
WHERE epoch_us(p.ts) <= wm.w_us - 1000
  AND NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = p.user_id
      AND c.ts >= p.ts - INTERVAL {STREAM_JOIN_LOOKBACK_S} SECOND
      AND c.ts <= p.ts)
"""

QUERIES["stream_left_anti_availablenow"] = (
    q_stream_left_anti_availablenow
)
ORACLES["stream_left_anti_availablenow"] = (
    ORACLE_STREAM_LEFT_ANTI_AVAILABLENOW
)


def q_hdr_sketch_stream_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The HDR quantile sketch doing its real streaming job (round
    10): each micro-batch builds its OWN partial sketch in
    ``foreachBatch`` (one map-side-combined count agg over the batch
    — the only pass the batch was making anyway) and appends it to a
    parquet sketch store; quantiles are answered at read time by
    MERGING the partials (counter sums) and rank-selecting — no raw
    value is ever re-read. Because the sketch is a monoid, the
    merged result is BATCH-SPLIT INVARIANT: the oracle replays the
    single-pass batch build (the same SQL as
    ``hdr_quantile_sketch_events``), so a green row proves the
    per-micro-batch partials merge to exactly the all-data sketch —
    the re-aggregatable-percentiles contract a 100 TB telemetry
    pipeline runs on (reference KPI shape dashboard/app.py:300-351).
    The input arrives as two mtime-ordered files, one per trigger."""
    configure_for_oracle_parity(spark)
    from ..extensions.sketches import hdr_build, hdr_quantiles
    from .stats_gate import HDR_PROBES

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    )
    src = _arrow_events(sf_dir, ["event_id", "event_type", "value"])
    tmp = scratch_dir("hdr_stream_gate_")
    staged = f"{tmp}/staged"
    store = f"{tmp}/sketch_store"
    import pyarrow.compute as pc

    parity = pc.bit_wise_and(src.column("event_id"), 1)
    _arrow_stage(
        staged,
        (
            src.filter(pc.equal(parity, 0)).select(
                ["event_type", "value"]
            ),
            src.filter(pc.equal(parity, 1)).select(
                ["event_type", "value"]
            ),
        ),
    )

    def _append_partial(batch_df, batch_id: int) -> None:
        hdr_build(batch_df, "value", ["event_type"]).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(store)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    with _stream_state_partitions(spark):
        run_available_now(
            stream.writeStream.foreachBatch(_append_partial),
            f"{tmp}/ckpt",
            _AWAIT_S,
        )
    partials = spark.read.parquet(store)
    n_batches = partials.select("batch_id").distinct().count()
    if n_batches < 2:
        # explicit raise, not assert: under `python -O` an assert is
        # stripped and a single-batch run would certify green while
        # no longer proving the merge (the invariant this gate exists
        # to test)
        raise AssertionError(
            f"expected >=2 partial sketches, got {n_batches} — "
            "batch admission coalesced the staged files; the merge "
            "path was not exercised"
        )
    merged = partials.groupBy("event_type", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    return hdr_quantiles(
        merged, ["event_type"], list(HDR_PROBES)
    ).select(
        "event_type",
        F.col("probe_pct").cast("int").alias("probe_pct"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("est_scaled").cast("long").alias("est_scaled"),
    )


def _hdr_stream_oracle() -> str:
    from .stats_gate import ORACLE_HDR_QUANTILE_SKETCH_EVENTS

    return ORACLE_HDR_QUANTILE_SKETCH_EVENTS


QUERIES["hdr_sketch_stream_availablenow"] = (
    q_hdr_sketch_stream_availablenow
)
ORACLES["hdr_sketch_stream_availablenow"] = _hdr_stream_oracle()


def q_billing_stream_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The streaming billing medallion (round-13 verdict ask #4): the
    reference declares a ``billing.raw`` topic plus bronze/silver
    billing directories (config/config.py:13,25,29) that no ETL ever
    consumes; round 13 ran the batch half of that surface (statements
    as a CSV dimension). This gate runs the STREAMING half end to
    end: the deterministic statement fixture is serialized as the
    topic payload — all-string JSON records plus producer metadata
    (file-stream stand-in, the established S1 Kafka caveat) — then
    streaming/ingest.billing_bronze_stream conforms each micro-batch
    onto BILLING_SCHEMA (try_cast type recovery, metadata dropped)
    and appends to a checkpointed, period-partitioned bronze sink
    under trigger(availableNow). The silver step
    (operators/billing.clean_statements: required-key drop +
    supersede-dedup by ingestion stamp) then conforms bronze to the
    silver statement contract, the reconciliation runs over the
    STREAMED-and-cleaned statements, and the oracle is the batch
    reconciliation's own SQL — so the hash gate proves the whole
    topic -> conform -> bronze -> silver -> reconcile path is
    semantically invisible vs handing the operator the statements
    directly (the deterministic fixture has no malformed or reissued
    rows, so cleaning is provably a pass-through here; its filtering
    behavior is unit-certified in tests/test_billing.py).

    Exactness through the wire: statement doubles go through
    CAST(double AS STRING) -> JSON -> try_cast(string AS DOUBLE),
    which is bit-exact round-trip (Java Double.toString produces the
    shortest string that parses back to the same IEEE value); user_id
    rides as a string (the published BILLING_SCHEMA's type — the
    reference's CSV says "user_001") and is cast back to long for
    the join against the usage rollup."""
    configure_for_oracle_parity(spark)
    from ..functions.numeric import quantize_cols
    from ..operators.billing import (
        clean_statements,
        monthly_usage,
        reconcile_billing,
    )
    from ..streaming.ingest import billing_bronze_stream
    from .pipeline import billing_statement_fixture

    ev = load_table(spark, sf_dir, "events")
    usage = quantize_cols(monthly_usage(ev), "metered_usage_kwh")
    statements = billing_statement_fixture(usage)

    tmp = scratch_dir("billing_stream_gate_")
    raw_dir = f"{tmp}/raw"
    bronze = f"{tmp}/bronze"
    payload = statements.select(
        *[F.col(c).cast("string").alias(c) for c in statements.columns],
        F.lit("billing.raw").alias("_source"),
    )
    payload.coalesce(1).write.mode("overwrite").json(raw_dir)
    with _stream_state_partitions(spark):
        run_available_now(
            billing_bronze_stream(spark, raw_dir, bronze),
            f"{tmp}/ckpt",
            _AWAIT_S,
        )
    silver = clean_statements(spark.read.parquet(bronze))
    streamed = silver.select(
        *[f.name for f in payload.schema.fields if f.name != "_source"]
    ).withColumn("user_id", F.col("user_id").cast("long"))
    return reconcile_billing(usage, streamed, rel_tolerance=0.05)


def _billing_stream_oracle() -> str:
    from .pipeline import ORACLE_BILLING_RECONCILIATION_EVENTS

    return ORACLE_BILLING_RECONCILIATION_EVENTS


QUERIES["billing_stream_availablenow"] = q_billing_stream_availablenow
ORACLES["billing_stream_availablenow"] = _billing_stream_oracle()


# ---------------------------------------------------------------------------
# Session-scoped result memo (round 7): every gate above is
# DETERMINISTIC in (gate, sf_dir) — staging, checkpoint, and sink all
# live in a fresh scratch_dir per execution, and the emitted rows are a
# pure function of the staged input. The driver calls each registry
# query at least twice per window (row count, then values) and the
# local harnesses re-call them too; re-STREAMING on those repeat calls
# buys zero additional signal — the streaming execution, state store,
# crash injection, and recovery all happened on the first call. The
# memo returns the SAME result DataFrame (an immutable recipe over the
# first call's sink, which stays under the scratch root until the
# process exits) for repeat calls on the same SparkSession; a new
# session misses and re-streams. Opt out with
# SPARK_GRAFT_NO_STREAM_MEMO=1 (the exact mirror and bench each run
# every gate once per process, so neither depends on this).
# ---------------------------------------------------------------------------

_STREAM_MEMO: dict = {}


def _memo_stream(name, fn):
    @functools.wraps(fn)
    def wrapper(spark, sf_dir):
        if os.environ.get("SPARK_GRAFT_NO_STREAM_MEMO"):
            return fn(spark, sf_dir)
        key = (name, sf_dir)
        hit = _STREAM_MEMO.get(key)
        if hit is not None and hit.sparkSession is spark:
            return hit
        df = fn(spark, sf_dir)
        _STREAM_MEMO[key] = df
        return df

    return wrapper


for _name in list(QUERIES):
    if _name.endswith("_availablenow"):
        QUERIES[_name] = _memo_stream(_name, QUERIES[_name])
