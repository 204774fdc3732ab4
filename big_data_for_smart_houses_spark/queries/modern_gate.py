"""Infrastructure and multimodal gates, each hash-gated against a
DuckDB oracle.

Infrastructure: small-file compaction roundtrip, bucketed co-located
joins (gate RAISES on any Exchange) and declarative expectations with
quarantine. Aggregates: a grouped-agg pandas UDAF (the
custom-aggregate extension point) and ordered-set percentiles.

Multimodal: REAL stdlib media codecs (BMP image, WAV audio, raw-frame
AVI video) and the binaryFile blob source through the multimodal
mapInPandas shape. LLM pipeline: distributed hashed-bag
logistic-regression training under the planted-recovery gate pattern.

Everything stays JVM-side codegen except the documented
mapInPandas/UDAF surfaces — no row-at-a-time Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import configure_for_oracle_parity
from ..sources.parquet import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure_for_oracle_parity(spark)
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Small-file compaction roundtrip
# ---------------------------------------------------------------------------

COMPACT_INPUT_FILES = 64


def q_compaction_roundtrip_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZE-style small-file compaction
    (sources/parquet.py:compact_files) on the hash path: the events
    table is staged as 64 small files (the reference's one-file-per-
    flush bronze layout), compacted to ~target-size files via one
    round-robin rewrite, and the compacted directory's CONTENT is
    returned — byte-identical rows or the gate fails, and the gate
    itself raises if compaction didn't actually shrink the file
    count. Target bytes are set so gate SF lands at a handful of
    files; at 100 TB the same arithmetic yields 128 MB files."""
    import glob
    import tempfile

    from ..sources.parquet import compact_files

    ev = load_table(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="compact_gate_")
    small = f"{tmp}/small"
    out = f"{tmp}/compacted"
    ev.repartition(COMPACT_INPUT_FILES).write.mode("overwrite").parquet(small)
    n_in = len(glob.glob(f"{small}/part-*.parquet"))
    compact_files(spark, small, out, target_file_bytes=4 * 1024 * 1024)
    n_out = len(glob.glob(f"{out}/part-*.parquet"))
    if not (n_out < n_in):
        raise AssertionError(
            f"compaction did not reduce files: {n_in} -> {n_out}"
        )
    return spark.read.parquet(out)


ORACLE_COMPACTION_ROUNDTRIP_EVENTS = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""

QUERIES["compaction_roundtrip_events"] = q_compaction_roundtrip_events
ORACLES["compaction_roundtrip_events"] = ORACLE_COMPACTION_ROUNDTRIP_EVENTS


# ---------------------------------------------------------------------------
# Bucketed co-located join on the hash path
# ---------------------------------------------------------------------------

BUCKETS = 8


def q_bucketed_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-located fact-fact join (sources/bucketing.py) executed
    on the hash path: both sides are written as catalog tables
    bucketed+sorted on the join key, and the join must plan with
    ZERO exchanges — each task sort-merge joins matching bucket
    files locally. The gate disables broadcast (at 100 TB neither
    fact side broadcasts anyway), RAISES if any Exchange appears in
    the physical plan (the plan guarantee rides the hash gate, not
    just test_bucketing.py), and returns the joined rows for value
    verification. Write once, join shuffle-free forever — the
    amortization story for every repeated spine join."""
    import tempfile

    from ..sources.bucketing import read_bucketed, write_bucketed

    configure_for_oracle_parity(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_totalprice",
        "o_orderpriority",
    )
    tmp = tempfile.mkdtemp(prefix="bucket_gate_")
    for name, df in (("_gate_li_bkt", li), ("_gate_o_bkt", o)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .bucketBy(BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{tmp}/{name}")
            .saveAsTable(name)
        )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_bucketed(spark, "_gate_li_bkt").join(
            read_bucketed(spark, "_gate_o_bkt"), "l_orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            raise AssertionError(
                f"bucketed join shuffled — co-location lost:\n{plan}"
            )
        return joined.select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "o_totalprice",
            "o_orderpriority",
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


ORACLE_BUCKETED_JOIN_ORDERS = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
       o_totalprice, o_orderpriority
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""

QUERIES["bucketed_join_orders"] = q_bucketed_join_orders
ORACLES["bucketed_join_orders"] = ORACLE_BUCKETED_JOIN_ORDERS


# ---------------------------------------------------------------------------
# Distributed quality-classifier training (planted-recovery gate)
# ---------------------------------------------------------------------------

LOGREG_DIM = 256
LOGREG_ITERS = 8
LOGREG_LR = 0.5
LOGREG_MIN_MARGIN = 0.05


def q_logreg_quality_planted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-classifier training (extensions/classifier.py —
    hashed-bag logistic regression, the GPT-3/CCNet data-filter
    model) under the planted-recovery gate pattern: documents get a
    deterministic label (doc_id % 3 == 0) plus a reserved indicator
    feature index outside the hash range, making the corpus linearly
    separable BY CONSTRUCTION. Eight distributed GD iterations must
    recover a model that classifies every document correctly with a
    raw margin well clear of float-sum noise (empirically ≈0.43 at
    gate SF; the gate pins |z| > 0.05) — so the hash row proves the
    whole training loop: feature hashing, broadcast-model scoring,
    gradient aggregation, bounded model collect-update. One flipped
    prediction or collapsed margin is a value mismatch."""
    from ..extensions.classifier import (
        hashed_token_features,
        predict_logreg,
        train_logreg_hashed,
    )

    d = _t(spark, sf_dir, "documents")
    feats = hashed_token_features(d, dim=LOGREG_DIM)
    y = (F.col("doc_id") % 3 == 0).cast("int")
    feats = feats.withColumn("y", y).withColumn(
        "f_idx",
        F.concat(
            F.col("f_idx"),
            F.array(
                F.when(F.col("y") == 1, F.lit(LOGREG_DIM))
                .otherwise(F.lit(LOGREG_DIM + 1))
                .cast("long")
            ),
        ),
    )
    w, b = train_logreg_hashed(
        feats, "doc_id", "f_idx", "y",
        iters=LOGREG_ITERS, lr=LOGREG_LR,
    )
    pred = predict_logreg(feats, w, "doc_id", "f_idx", b)
    return pred.select(
        "doc_id",
        "y_pred",
        (F.abs(F.col("z")) > LOGREG_MIN_MARGIN).alias("margin_ok"),
    )


ORACLE_LOGREG_QUALITY_PLANTED = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS y_pred,
       true AS margin_ok
FROM documents
"""

QUERIES["logreg_quality_planted"] = q_logreg_quality_planted
ORACLES["logreg_quality_planted"] = ORACLE_LOGREG_QUALITY_PLANTED


# ---------------------------------------------------------------------------
# Declarative data-quality expectations
# ---------------------------------------------------------------------------

EXPECT_VALUE_MAX = 400.0


def q_expectations_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations (operators/expectations.py — the
    DLT/dbt-test analog of the reference's hand-rolled per-field
    validator): three rules over events, one of which trips on real
    rows (value <= 400) and one of which exercises the null-is-a-
    violation contract. The gate returns the quarantined rows with
    their sorted violation lists PLUS the per-rule report joined as
    extra columns — so the row-annotation path, the split, and the
    single-pass report must all agree with the oracle's closed
    form."""
    from ..operators.expectations import (
        expectations_report,
        split_on_expectations,
    )

    ev = _t(spark, sf_dir, "events")
    rules = {
        "value_in_range": (F.col("value") >= 0)
        & (F.col("value") <= EXPECT_VALUE_MAX),
        "known_type": F.col("event_type").isin(
            "click", "view", "purchase", "signup", "error"
        ),
        "ts_present": F.col("ts").isNotNull(),
        # deterministic tripwire so the quarantine is non-empty at
        # every SF (the range rule only fires above sf0.001)
        "id_not_97_multiple": F.col("event_id") % 97 != 0,
    }
    _clean, bad = split_on_expectations(ev, rules)
    report = expectations_report(ev, rules)
    out = bad.select(
        "event_id",
        "value",
        F.array_join(F.array_sort("_violations"), ",").alias("violated"),
    ).crossJoin(
        F.broadcast(
            report.groupBy().pivot("rule").sum("n_violations")
        )
    )
    # value is a raw scanned column (no arithmetic) — no quantization
    return out


ORACLE_EXPECTATIONS_EVENTS = f"""
WITH v AS (
  SELECT event_id, value,
         (value < 0 OR value > {EXPECT_VALUE_MAX}) AS v_range,
         event_type NOT IN
           ('click','view','purchase','signup','error') AS v_type,
         ts IS NULL AS v_ts,
         event_id % 97 = 0 AS v_id
  FROM events
),
counts AS (
  SELECT CAST(sum(CASE WHEN v_id THEN 1 ELSE 0 END) AS BIGINT)
           AS id_not_97_multiple,
         CAST(sum(CASE WHEN v_type THEN 1 ELSE 0 END) AS BIGINT)
           AS known_type,
         CAST(sum(CASE WHEN v_ts THEN 1 ELSE 0 END) AS BIGINT)
           AS ts_present,
         CAST(sum(CASE WHEN v_range THEN 1 ELSE 0 END) AS BIGINT)
           AS value_in_range
  FROM v
)
SELECT event_id, value,
       array_to_string(list_sort(
         list_filter([
           CASE WHEN v_range THEN 'value_in_range' END,
           CASE WHEN v_type THEN 'known_type' END,
           CASE WHEN v_ts THEN 'ts_present' END,
           CASE WHEN v_id THEN 'id_not_97_multiple' END
         ], x -> x IS NOT NULL)), ',') AS violated,
       counts.id_not_97_multiple, counts.known_type,
       counts.ts_present, counts.value_in_range
FROM v CROSS JOIN counts
WHERE v_range OR v_type OR v_ts OR v_id
"""

QUERIES["expectations_events"] = q_expectations_events
ORACLES["expectations_events"] = ORACLE_EXPECTATIONS_EVENTS


# ---------------------------------------------------------------------------
# REAL image decode (stdlib BMP) through the multimodal pipeline
# ---------------------------------------------------------------------------

BMP_N_ASSETS = 200


def q_bmp_decode_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE image decoding on the hash path — not the byte-level
    fake: 200 deterministic 24bpp BMP payloads (width 8+i%5, height
    4+i%3, channels (i%251, (3i)%251, (7i)%251)) are serialized with
    the stdlib encoder, carried as a BinaryType column, and decoded
    by `extensions/multimodal.py:decode_bmp_assets` — real header
    validation, row padding, bottom-up pixel walk — through the same
    Arrow-batched mapInPandas shape the PIL/ffmpeg-backed decoders
    plug into. The DuckDB oracle states the expected dimensions and
    exact channel means in closed form; a single mis-parsed byte
    (stride, offset, BGR order) breaks the hash. sf_dir is unused:
    the payloads are the data."""
    from ..extensions.multimodal import decode_bmp_assets, encode_bmp

    configure_for_oracle_parity(spark)
    rows = [
        (
            i,
            encode_bmp(
                8 + i % 5,
                4 + i % 3,
                (i % 251, (3 * i) % 251, (7 * i) % 251),
            ),
        )
        for i in range(BMP_N_ASSETS)
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, payload binary"
    ).repartition(8)
    return decode_bmp_assets(assets)


ORACLE_BMP_DECODE_ASSETS = f"""
SELECT i AS asset_id,
       CAST(8 + i % 5 AS BIGINT) AS width,
       CAST(4 + i % 3 AS BIGINT) AS height,
       CAST(i % 251 AS BIGINT) AS mean_r,
       CAST((3 * i) % 251 AS BIGINT) AS mean_g,
       CAST((7 * i) % 251 AS BIGINT) AS mean_b
FROM (SELECT unnest(generate_series(0, {BMP_N_ASSETS - 1})) AS i)
"""

QUERIES["bmp_decode_assets"] = q_bmp_decode_assets
ORACLES["bmp_decode_assets"] = ORACLE_BMP_DECODE_ASSETS


# ---------------------------------------------------------------------------
# REAL audio decode (stdlib WAV) through the multimodal pipeline
# ---------------------------------------------------------------------------

WAV_N_ASSETS = 100


def q_wav_decode_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE audio decoding on the hash path: 100 deterministic
    mono 16-bit PCM WAVs (square wave of amplitude 100+i, period
    4+i%3, 800+10i frames at 8 kHz) serialized and parsed with the
    stdlib ``wave`` module through the multimodal mapInPandas shape
    (`extensions/multimodal.py:decode_wav_assets`). Square waves make
    every emitted statistic an exact integer (peak = amplitude; mean
    |s| = amplitude), so the DuckDB oracle states frame counts,
    duration and both amplitude stats in closed form — a mis-read
    RIFF header, sample width, or endianness breaks the hash.
    sf_dir is unused: the payloads are the data."""
    from ..extensions.multimodal import decode_wav_assets, encode_wav

    configure_for_oracle_parity(spark)
    rows = [
        (
            i,
            encode_wav(
                n_frames=800 + 10 * i,
                rate=8000,
                amplitude=100 + i,
                period=4 + i % 3,
            ),
        )
        for i in range(WAV_N_ASSETS)
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, payload binary"
    ).repartition(8)
    return decode_wav_assets(assets)


ORACLE_WAV_DECODE_ASSETS = f"""
SELECT i AS asset_id,
       CAST(800 + 10 * i AS BIGINT) AS n_frames,
       CAST(8000 AS BIGINT) AS rate,
       CAST((800 + 10 * i) * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(100 + i AS BIGINT) AS peak_amplitude,
       CAST(100 + i AS BIGINT) AS mean_abs
FROM (SELECT unnest(generate_series(0, {WAV_N_ASSETS - 1})) AS i)
"""

QUERIES["wav_decode_assets"] = q_wav_decode_assets
ORACLES["wav_decode_assets"] = ORACLE_WAV_DECODE_ASSETS


# ---------------------------------------------------------------------------
# REAL video frame-sampling (raw-frame AVI) through the pipeline
# ---------------------------------------------------------------------------

AVI_N_ASSETS = 40
AVI_N_FRAMES = 6
AVI_SAMPLE_EVERY = 2


def q_avi_frame_sample_assets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GENUINE video frame sampling on the hash path: 40 raw-frame
    RIFF AVI containers (8×4, 6 solid-color frames each, channel
    values derived from (asset, frame) index) serialized and parsed
    with pure stdlib code (`extensions/multimodal.py:encode_avi /
    sample_avi_frames` — LIST recursion, chunk padding, DIB stride),
    keeping every 2nd frame. One row per sampled frame, channel means
    exact; the DuckDB oracle is the closed-form generator. With this,
    the video gap narrows to CODEC-compressed streams (ffmpeg):
    container walking and raw-frame math are proven for real.
    sf_dir is unused: the payloads are the data."""
    from ..extensions.multimodal import encode_avi, sample_avi_frames

    configure_for_oracle_parity(spark)
    rows = [
        (
            i,
            encode_avi(
                8,
                4,
                [
                    (
                        (i * 7 + f) % 251,
                        (i * 11 + 2 * f) % 251,
                        (i * 13 + 3 * f) % 251,
                    )
                    for f in range(AVI_N_FRAMES)
                ],
            ),
        )
        for i in range(AVI_N_ASSETS)
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, payload binary"
    ).repartition(8)
    return sample_avi_frames(assets, every_n=AVI_SAMPLE_EVERY)


ORACLE_AVI_FRAME_SAMPLE_ASSETS = f"""
SELECT i AS asset_id,
       CAST(f AS BIGINT) AS frame_idx,
       CAST(8 AS BIGINT) AS width,
       CAST(4 AS BIGINT) AS height,
       CAST((i * 7 + f) % 251 AS BIGINT) AS mean_r,
       CAST((i * 11 + 2 * f) % 251 AS BIGINT) AS mean_g,
       CAST((i * 13 + 3 * f) % 251 AS BIGINT) AS mean_b
FROM (SELECT unnest(generate_series(0, {AVI_N_ASSETS - 1})) AS i)
CROSS JOIN (SELECT unnest(generate_series(0, {AVI_N_FRAMES - 1})) AS f)
WHERE f % {AVI_SAMPLE_EVERY} = 0
"""

QUERIES["avi_frame_sample_assets"] = q_avi_frame_sample_assets
ORACLES["avi_frame_sample_assets"] = ORACLE_AVI_FRAME_SAMPLE_ASSETS


# ---------------------------------------------------------------------------
# Arrow-batched grouped-agg pandas UDAF (the extension-point surface)
# ---------------------------------------------------------------------------

def q_pandas_udaf_geomean_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The one Python-UDF surface the engine had not yet demonstrated:
    a GROUPED_AGG pandas UDAF (Arrow-batched, one vectorized call per
    group — never row-at-a-time). The function computes the per-type
    geometric mean of value as exp(mean(log x)) with the logs SORTED
    before summing, so the float fold is order-deterministic under
    any partitioning; the DuckDB oracle replays exp(avg(ln)) and both
    ride the float32 gate quantization. This is the documented
    extension point for custom aggregates Spark lacks — parity
    queries themselves remain UDF-free (COVERAGE.md §2.10), and at
    100 TB the UDAF aggregates per group AFTER the same keyed
    exchange a built-in agg would use."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from ..functions.numeric import quantize_cols

    # explicit functionType: this module's PEP-563 string annotations
    # defeat pandas_udf's signature inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geomean(v):
        logs = np.sort(np.log(v.to_numpy(dtype="float64")))
        return float(np.exp(logs.sum() / len(logs)))

    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    # Spark forbids mixing a GROUPED_AGG pandas UDF with built-in
    # aggregates in one agg — the count comes from its own pass and
    # joins back on the 5-row type key
    gm = ev.groupBy("event_type").agg(
        geomean("value").alias("geomean_value")
    )
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return quantize_cols(gm.join(counts, "event_type"), "geomean_value")


ORACLE_PANDAS_UDAF_GEOMEAN_EVENTS = """
SELECT event_type,
       CAST(CAST(exp(avg(ln(value))) AS REAL) AS DOUBLE)
         AS geomean_value,
       count(*) AS n
FROM events
WHERE value > 0
GROUP BY event_type
"""

QUERIES["pandas_udaf_geomean_events"] = q_pandas_udaf_geomean_events
ORACLES["pandas_udaf_geomean_events"] = ORACLE_PANDAS_UDAF_GEOMEAN_EVENTS


# ---------------------------------------------------------------------------
# binaryFile source: opaque-blob ingestion for the multimodal pipeline
# ---------------------------------------------------------------------------

BINARYFILE_N_ASSETS = 150


def q_binaryfile_bmp_assets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The `binaryFile` DataSource — Spark's opaque-blob reader and
    the front door of any 100 TB multimodal ingest (image/audio/video
    files land as (path, modificationTime, length, content) rows with
    no decode on the scan; partition parallelism comes from the file
    listing, so millions of blobs fan out across executors with zero
    driver-side reads). The gate stages 150 deterministic 24bpp BMP
    files on disk, reads them back through format("binaryFile"),
    recovers the asset id FROM THE PATH (regexp over the file name —
    the id-carried-by-layout contract object stores rely on), checks
    the source's `length` column against the closed-form BMP size
    (54-byte header + padded stride × height), and pushes `content`
    through the same Arrow-batched real decoder as
    `bmp_decode_assets`. A mis-listed file, a truncated blob, or a
    wrong length breaks the hash. sf_dir is unused: the staged files
    are the data."""
    import os
    import tempfile

    from ..extensions.multimodal import decode_bmp_assets, encode_bmp

    configure_for_oracle_parity(spark)
    tmp = tempfile.mkdtemp(prefix="binaryfile_gate_")
    for i in range(BINARYFILE_N_ASSETS):
        payload = encode_bmp(
            6 + i % 7,
            3 + i % 4,
            ((2 * i) % 251, (5 * i) % 251, (11 * i) % 251),
        )
        with open(os.path.join(tmp, f"asset_{i:05d}.bmp"), "wb") as f:
            f.write(payload)

    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(tmp)
        .select(
            F.regexp_extract(F.col("path"), r"asset_(\d+)\.bmp", 1)
            .cast("long")
            .alias("asset_id"),
            F.col("length").alias("file_len"),
            F.col("content").alias("payload"),
        )
    )
    decoded = decode_bmp_assets(
        blobs.select("asset_id", "payload").repartition(8)
    )
    return (
        blobs.select("asset_id", "file_len")
        .join(decoded, "asset_id")
        .select(
            "asset_id", "file_len", "width", "height",
            "mean_r", "mean_g", "mean_b",
        )
    )


ORACLE_BINARYFILE_BMP_ASSETS = f"""
SELECT i AS asset_id,
       CAST(54 + ((3 * (6 + i % 7) + 3) // 4) * 4 * (3 + i % 4)
         AS BIGINT) AS file_len,
       CAST(6 + i % 7 AS BIGINT) AS width,
       CAST(3 + i % 4 AS BIGINT) AS height,
       CAST((2 * i) % 251 AS BIGINT) AS mean_r,
       CAST((5 * i) % 251 AS BIGINT) AS mean_g,
       CAST((11 * i) % 251 AS BIGINT) AS mean_b
FROM (SELECT unnest(generate_series(0, {BINARYFILE_N_ASSETS - 1}))
        AS i)
"""

QUERIES["binaryfile_bmp_assets"] = q_binaryfile_bmp_assets
ORACLES["binaryfile_bmp_assets"] = ORACLE_BINARYFILE_BMP_ASSETS


# ---------------------------------------------------------------------------
# Ordered-set aggregates: percentile_cont / percentile_disc WITHIN GROUP
# ---------------------------------------------------------------------------

def q_percentile_within_group_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`percentile_cont` / `percentile_disc ... WITHIN GROUP (ORDER BY
    ...)` (Spark 4 ordered-set aggregates) per event type — the ANSI
    inverse-distribution functions next to the exact `percentile` the
    engine already gates. percentile_disc SELECTS an input value
    (raw double pass-through, exact); percentile_cont INTERPOLATES
    (lower + (upper-lower)*frac at rank (n-1)*q — same definition in
    DuckDB's quantile_cont), so its columns ride the float32 quantize
    bridge like every reassociated double."""
    from ..functions.numeric import quantize_cols

    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_pwg_events")
    out = spark.sql(
        """
        SELECT event_type,
               percentile_cont(0.25) WITHIN GROUP (ORDER BY value) AS p25c,
               percentile_cont(0.5)  WITHIN GROUP (ORDER BY value) AS p50c,
               percentile_cont(0.9)  WITHIN GROUP (ORDER BY value) AS p90c,
               percentile_disc(0.5)  WITHIN GROUP (ORDER BY value) AS p50d,
               percentile_disc(0.9)  WITHIN GROUP (ORDER BY value) AS p90d,
               count(value) AS n
        FROM _pwg_events
        GROUP BY event_type
        """
    )
    return quantize_cols(out, "p25c", "p50c", "p90c")


ORACLE_PERCENTILE_WITHIN_GROUP_EVENTS = """
SELECT event_type,
       CAST(CAST(quantile_cont(value, 0.25) AS REAL) AS DOUBLE) AS p25c,
       CAST(CAST(quantile_cont(value, 0.5)  AS REAL) AS DOUBLE) AS p50c,
       CAST(CAST(quantile_cont(value, 0.9)  AS REAL) AS DOUBLE) AS p90c,
       quantile_disc(value, 0.5) AS p50d,
       quantile_disc(value, 0.9) AS p90d,
       count(value) AS n
FROM events
GROUP BY event_type
"""

QUERIES["percentile_within_group_events"] = q_percentile_within_group_events
ORACLES["percentile_within_group_events"] = (
    ORACLE_PERCENTILE_WITHIN_GROUP_EVENTS
)
