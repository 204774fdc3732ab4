"""Unit semantics for the round-4 stats / layout operators, beyond the
oracle gate: regression on a known closed form, LOCF edge cases, and
the Z-order key's round-trip + re-layout locality guarantees."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from big_data_for_smart_houses_spark.extensions.layout import (
    ZORDER_BITS,
    cluster_by_zorder,
    interleave_bits,
    zorder_key_2d,
)
from big_data_for_smart_houses_spark.operators.stats import (
    gap_fill_locf,
    regression_per_key,
)


def _ts(h: int, m: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, h, m)


def test_regression_recovers_exact_line(spark):
    """y = 3x + 7 sampled without noise: slope/intercept exact to
    float precision, r2 = 1, pearson = 1."""
    rows = [("k", float(x), 3.0 * x + 7.0) for x in range(10)]
    df = spark.createDataFrame(rows, "key string, x double, y double")
    out = regression_per_key(df, "key", "x", "y").collect()[0]
    assert out["slope"] == pytest.approx(3.0, abs=1e-9)
    assert out["intercept"] == pytest.approx(7.0, abs=1e-9)
    assert out["r2"] == pytest.approx(1.0, abs=1e-9)
    assert out["pearson_r"] == pytest.approx(1.0, abs=1e-9)
    assert out["n_points"] == 10


def test_regression_ignores_null_pairs(spark):
    """regr_* semantics: rows where either side is null drop out of
    the fit (n_points counts complete pairs only)."""
    rows = [("k", 0.0, 1.0), ("k", 1.0, 3.0), ("k", None, 9.0), ("k", 2.0, None)]
    df = spark.createDataFrame(rows, "key string, x double, y double")
    out = regression_per_key(df, "key", "x", "y").collect()[0]
    assert out["n_points"] == 2
    assert out["slope"] == pytest.approx(2.0, abs=1e-9)


def test_gapfill_fills_interior_gaps_only(spark):
    """Observations at hours 0 and 3: grid is [0,1,2,3], hours 1-2 are
    LOCF-carried gaps, nothing is emitted outside the observed span."""
    df = spark.createDataFrame(
        [("a", _ts(0), 10.0), ("a", _ts(3), 40.0)],
        "key string, ts timestamp, value double",
    )
    rows = {
        r["bucket_time"].hour: (r["value"], r["is_gap"])
        for r in gap_fill_locf(df, "key", "ts", "value").collect()
    }
    assert rows == {
        0: (10.0, False),
        1: (10.0, True),
        2: (10.0, True),
        3: (40.0, False),
    }


def test_gapfill_last_observation_wins_within_bucket(spark):
    """Two readings in one bucket: the LATER one is the bucket's
    value; equal timestamps resolve to the larger value
    (deterministic under duplicate-timestamp ingestion)."""
    df = spark.createDataFrame(
        [
            ("a", _ts(0, 10), 1.0),
            ("a", _ts(0, 50), 2.0),
            ("b", _ts(0), 5.0),
            ("b", _ts(0), 7.0),
        ],
        "key string, ts timestamp, value double",
    )
    out = {
        r["key"]: r["value"]
        for r in gap_fill_locf(df, "key", "ts", "value").collect()
    }
    assert out == {"a": 2.0, "b": 7.0}


def test_gapfill_single_point_key(spark):
    df = spark.createDataFrame(
        [("solo", _ts(5), 9.0)], "key string, ts timestamp, value double"
    )
    out = gap_fill_locf(df, "key", "ts", "value").collect()
    assert len(out) == 1
    assert out[0]["value"] == 9.0 and not out[0]["is_gap"]


def test_interleave_bits_round_trip(spark):
    """Morton key decodes back to its inputs: even bits -> a, odd
    bits -> b, across the full 16-bit corners."""
    corners = [(0, 0), (65535, 0), (0, 65535), (65535, 65535), (41234, 5)]
    df = spark.createDataFrame(corners, "a long, b long").withColumn(
        "z", interleave_bits(F.col("a"), F.col("b"), ZORDER_BITS)
    )
    back_a = sum(
        F.shiftleft(F.shiftright(F.col("z"), 2 * i).bitwiseAND(F.lit(1)), i)
        for i in range(ZORDER_BITS)
    )
    back_b = sum(
        F.shiftleft(
            F.shiftright(F.col("z"), 2 * i + 1).bitwiseAND(F.lit(1)), i
        )
        for i in range(ZORDER_BITS)
    )
    for r in df.select("a", "b", back_a.alias("ra"), back_b.alias("rb")).collect():
        assert (r["a"], r["b"]) == (r["ra"], r["rb"])


def test_zorder_key_monotone_in_both_dims(spark):
    """Growing either dimension (other fixed) never decreases the
    key — the property range-pruning on the key relies on."""
    rows = [(i, float(j)) for i in range(0, 100, 7) for j in range(0, 100, 7)]
    df = spark.createDataFrame(rows, "user_id long, value double")
    keyed = zorder_key_2d(df, "user_id", "value").collect()
    by_dim = {}
    for r in keyed:
        by_dim.setdefault(r["user_id"], []).append((r["value"], r["zorder_key"]))
    for pairs in by_dim.values():
        pairs.sort()
        keys = [k for _, k in pairs]
        assert keys == sorted(keys)


def test_cluster_by_zorder_writes_disjoint_key_ranges(spark, tmp_path):
    """After re-layout, output files cover non-overlapping zorder_key
    ranges (range partition + in-file sort) — the precondition for
    parquet row-group min/max pruning on BOTH clustered columns."""
    rows = [(i % 97, float((i * 31) % 503)) for i in range(2000)]
    df = spark.createDataFrame(rows, "user_id long, value double")
    out_dir = str(tmp_path / "zorder")
    cluster_by_zorder(df, "user_id", "value", n_files=8).write.mode(
        "overwrite"
    ).parquet(out_dir)
    back = spark.read.parquet(out_dir)
    ranges = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("zorder_key").alias("lo"), F.max("zorder_key").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in ranges)
    assert len(spans) > 1
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next


def test_time_weighted_avg_holding_semantics(spark):
    """A value held for 3 hours then changed for 1 hour: TWA weighs by
    holding time (10*3 + 40*1)/4 = 17.5, while the naive avg would say
    25. A single-sample key returns its sample."""
    from big_data_for_smart_houses_spark.operators.stats import (
        time_weighted_avg,
    )

    df = spark.createDataFrame(
        [
            ("a", _ts(0), 10.0),
            ("a", _ts(3), 40.0),
            ("a", _ts(4), 99.0),  # terminal sample: weight 0
            ("solo", _ts(1), 7.0),
        ],
        "key string, ts timestamp, value double",
    )
    out = {
        r["key"]: (r["time_weighted_avg"], r["n_samples"])
        for r in time_weighted_avg(df, "key", "ts", "value").collect()
    }
    assert out["a"][0] == pytest.approx((10.0 * 3 + 40.0 * 1) / 4, abs=1e-9)
    assert out["a"][1] == 3
    assert out["solo"] == (7.0, 1)


def test_interleave_nd_round_trip_three_dims(spark):
    from big_data_for_smart_houses_spark.extensions.layout import (
        interleave_bits_nd,
    )

    triples = [(0, 0, 0), (65535, 0, 65535), (41234, 5, 900), (1, 2, 3)]
    df = spark.createDataFrame(triples, "a long, b long, c long").withColumn(
        "z",
        interleave_bits_nd([F.col("a"), F.col("b"), F.col("c")], 16),
    )
    def back(d):
        return sum(
            F.shiftleft(
                F.shiftright(F.col("z"), 3 * i + d).bitwiseAND(F.lit(1)), i
            )
            for i in range(16)
        )
    for r in df.select("a", "b", "c",
                       back(0).alias("ra"), back(1).alias("rb"),
                       back(2).alias("rc")).collect():
        assert (r["a"], r["b"], r["c"]) == (r["ra"], r["rb"], r["rc"])


def test_interleave_nd_rejects_overflow(spark):
    from big_data_for_smart_houses_spark.extensions.layout import (
        interleave_bits_nd,
    )

    with pytest.raises(AssertionError, match="overflows"):
        interleave_bits_nd([F.col("a")] * 4, 16)


def test_profile_drift_flags_planted_degradation(spark):
    from big_data_for_smart_houses_spark.extensions.profiling import (
        profile_drift,
    )

    a = spark.range(100).select(
        F.col("id"), F.lit("x").alias("s"), (F.col("id") % 10).alias("v")
    )
    # b: 20% of s nulled, v range doubled
    b = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.lit("x")).alias("s"),
        (F.col("id") % 20).alias("v"),
    )
    out = {r["column"]: r for r in profile_drift(a, b, ["s", "v"]).collect()}
    assert out["s"]["drifted"] and out["s"]["null_rate_delta"] == 0.2
    # v doubled its distinct count but the STRING-ordered bounds ("0","9")
    # are unchanged (profile_columns documents string min/max), so the
    # null/bounds alert predicate stays quiet while the ratio reports it
    assert out["v"]["distinct_ratio"] == 2.0
    assert not out["v"]["bounds_moved"] and not out["v"]["drifted"]
    # identical snapshots: nothing drifts
    clean = {r["column"]: r for r in profile_drift(a, a, ["s", "v"]).collect()}
    assert not clean["s"]["drifted"] and not clean["v"]["drifted"]


def test_hll_exact_mode_and_union_bound(spark):
    """Below the sparse-mode threshold the DataSketches HLL estimate
    is EXACT; beyond it the union must stay within the 3-sigma RSE
    bound even though the composite estimator (post-union) differs
    from the HIP estimator (fresh sketch)."""
    from pyspark.sql import functions as F

    small = spark.range(100).select(
        (F.col("id") % 10).alias("g"), F.col("id").alias("u")
    )
    est = small.groupBy("g").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("u")).alias("est"),
        F.countDistinct("u").alias("exact"),
    )
    for r in est.collect():
        assert r.est == r.exact  # exact (list) mode: no error at all

    big = spark.range(200_000).select(
        F.lit(0).alias("g"),
        (F.col("id") % 50_000).alias("u"),
        (F.col("id") % 7).alias("shard"),
    )
    merged = (
        big.groupBy("g", "shard")
        .agg(F.hll_sketch_agg("u").alias("sk"))
        .groupBy("g")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]
        .est
    )
    assert abs(merged / 50_000 - 1.0) <= 3 * 1.04 / (2**12) ** 0.5


def test_gapfill_linear_interpolates_interior_gaps(spark):
    """Observations at hours 0 (10.0) and 3 (40.0): hours 1-2
    interpolate linearly (20.0, 30.0); observed buckets copy their
    value; is_gap marks only synthesized rows."""
    from big_data_for_smart_houses_spark.operators.stats import (
        gap_fill_linear,
    )

    df = spark.createDataFrame(
        [("a", _ts(0), 10.0), ("a", _ts(3), 40.0)],
        "key string, ts timestamp, value double",
    )
    rows = {
        r["bucket_time"].hour: (r["value"], r["is_gap"])
        for r in gap_fill_linear(df, "key", "ts", "value").collect()
    }
    assert rows == {
        0: (10.0, False),
        1: (20.0, True),
        2: (30.0, True),
        3: (40.0, False),
    }


def test_gapfill_linear_single_point_key(spark):
    from big_data_for_smart_houses_spark.operators.stats import (
        gap_fill_linear,
    )

    df = spark.createDataFrame(
        [("solo", _ts(5), 9.0)], "key string, ts timestamp, value double"
    )
    out = gap_fill_linear(df, "key", "ts", "value").collect()
    assert len(out) == 1
    assert out[0]["value"] == 9.0 and not out[0]["is_gap"]


def test_agg_completeness_mode_is_tie_free(spark):
    """The agg-completeness gate hashes mode(l_linenumber): the gate
    is only deterministic if the top count is STRICTLY unique within
    every l_returnflag group. Verify that invariant on the driver
    testdata (it holds by construction: every order contributes line
    1, only a shrinking fraction contribute higher line numbers)."""
    import duckdb

    for sf in ("0.001", "0.01"):
        con = duckdb.connect()
        rows = con.execute(
            f"""
            WITH c AS (
              SELECT l_returnflag, l_linenumber, count(*) AS n
              FROM parquet_scan(
                '/root/testdata/sf{sf}/lineitem.parquet')
              GROUP BY 1, 2
            ),
            r AS (
              SELECT l_returnflag, n,
                     rank() OVER (PARTITION BY l_returnflag
                                  ORDER BY n DESC) AS rk,
                     count(*) OVER (PARTITION BY l_returnflag, n)
                       AS ties
              FROM c
            )
            SELECT l_returnflag FROM r WHERE rk = 1 AND ties > 1
            """
        ).fetchall()
        con.close()
        assert rows == [], f"mode tie at sf{sf}: {rows}"
