#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation,
no driver collect). A tiny warm-up query first so JVM/codegen startup
is not billed to the first benchmark entry.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family (scan+agg, join, window, dedup,
# pipeline, gold, topk, json) plus extension ops as they land.
HEADLINE = [
    "pricing_summary",
    "daily_user_rollup",
    "customer_enrichment",
    "late_shipment_flag",
    "rolling_event_metrics",
    "dedup_events_keepfirst",
    "latest_events_topk",
    "orders_business_summary",
    "supplier_health_scores",
    "json_props_extract",
    "silver_pipeline_events",
    "gold_daily_energy_events",
    "sessionize_events",
    "purchase_asof_click",
    "minhash_dedup_documents",
    "simhash_dedup_documents",
    "embedding_cosine_topk",
    "embedding_neardup_pairs",
    "embedding_ann_ivf",
    "embedding_ann_lsh",
    "text_stats",
    "multimodal_frame_sample",
    "contamination_check_documents",
    "tfidf_top_terms",
    "corpus_shuffle_documents",
    "chunk_documents",
    "quality_topk_per_lang",
    "bm25_documents",
    "pii_scrub_documents",
    "dedup_groups_documents",
    "token_batch_packing",
    "dedup_incremental_documents",
    "temperature_mix_documents",
    "length_bucketed_packing",
    "boilerplate_ngram_documents",
    "sentence_dedup_documents",
    "semantic_dedup_embeddings",
    "source_cap_documents",
    "mix_manifest_documents",
    "profile_documents",
    "winsorize_events",
    "token_heavy_hitters",
    "value_histogram_events",
    "bigram_lm_documents",
    "cdc_chunk_documents",
    "ewma_events",
    "zscore_anomaly_events",
    "regression_drift_events",
    "gapfill_locf_events",
    "unpivot_daily_metrics",
    "zorder_key_events",
    "click_asof_next_purchase",
    "hash_sample_per_lang",
    "weighted_sample_wor_documents",
    "packed_sequence_offsets",
    "cdc_crossdoc_documents",
    "merge_upsert_orders",
    "incremental_energy_state",
    "cms_token_counts",
    "scd2_customer_orders",
    "session_window_events",
    "time_weighted_avg_events",
    "rate_of_change_events",
    "ratio_to_report_events",
    "funnel_click_purchase",
    "cohort_retention_events",
    "zorder3_key_events",
    "hopping_window_events",
    "grouping_sets_events",
    "trending_types_hourly",
    "profile_drift_documents",
    "daily_value_pop_change",
    "session_paths",
    "abc_customers",
    "conditional_aggs_by_type",
    "string_functions_documents",
    "date_functions_events",
    "array_functions_documents",
    "ranking_functions_events",
    "json_null_functions_events",
    "map_functions_events",
    "quality_topk_approx_pct",
    "scd2_asof_lookup",
    "locf_stream_availablenow",
    "ewma_stream_availablenow",
    "generator_functions_documents",
    "hof_functions_documents",
    "bloom_probe_customers",
    "editdist_recall_planted",
    "ppjoin_pairs_documents",
    "global_rownum_orders",
    "concurrency_sweepline_events",
    "skyline_parts",
    "stream_semi_join_availablenow",
    "stream_left_anti_availablenow",
    "weighted_quantiles_orders",
    "gini_customer_orders",
    "ks_statistic_events",
    "percentile_within_group_events",
    "asof_nearest_events",
    "trailing_active_users_events",
    "mad_outliers_events",
    "ntile_scan_orders",
    "skyline3d_parts",
    "setops_events",
    "stream_join_availablenow",
    "stream_dedup_availablenow",
    "stream_tumbling_availablenow",
    "bpe_pair_counts_documents",
    "bpe_train_documents",
    "inverted_index_documents",
    "rollup_navigate_events",
    "pagerank_user_transitions",
    "regexp_functions_documents",
    "math_functions_events",
    "stream_merge_availablenow",
    "snapshot_diff_orders",
    "rolling_median_events",
    "source_kl_documents",
    "label_centroids_embeddings",
    "stats_moments_lineitem",
    "navigation_functions_events",
    "hll_reach_events",
    "tpch_q3_shipping_priority",
    "tpch_q5_region_volume",
    "ab_lift_events",
    "json_schema_profile_events",
    "contrastive_triplets_documents",
    "incremental_join_view_orders",
    "tpch_q10_returned_items",
    "span_masks_documents",
    "tpch_q7_volume_shipping",
    "tpch_q18_large_orders",
    "conform_union_sources",
    "synthetic_source_telemetry",
    "readability_documents",
    "zipf_slope_documents",
    "curation_funnel_report",
    "stream_restart_availablenow",
    "compaction_roundtrip_events",
    "stream_rocksdb_availablenow",
    "tpch_q4_order_priority",
    "tpch_q14_promo_revenue",
    "tpch_q19_disjunctive",
    "tpch_q22_global_balance",
    "window_completeness_events",
    "time_travel_orders",
    "tpch_q2_min_acctbal_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q12_priority_shipping",
    "tpch_q13_order_distribution",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_counts",
    "tpch_q17_small_qty_revenue",
    "tpch_q20_excess_supply",
    "tpch_q21_waiting_supplier",
    "agg_completeness_lineitem",
    "stream_upsert_availablenow",
    "stream_upsert_restart_availablenow",
    "datetime_functions_events",
    "array_sort_hof_documents",
    "kmv_distinct_events",
    "kmv_merge_events",
    "bfs_distances_transitions",
    "triangle_count_transitions",
    "vacuum_retention_orders",
    "stream_timeout_sessions_availablenow",
    "stream_device_sessions_availablenow",
    "statestore_sessions_availablenow",
    "statestore_timeout_rearm_availablenow",
    "rocksdb_pysessions_availablenow",
    "edit1_neighborhood_customer",
    "minhash_incremental_recall",
    "bpe_apply_documents",
    "bpe_rankmap_documents",
    "pysink_roundtrip_orders",
    "copurchase_lift_parts",
    "approx_topk_events",
    "kmv_jaccard_events",
    "hdr_quantile_sketch_events",
    "hdr_quantile_error_bound_events",
    "hdr_sketch_stream_availablenow",
    "stream_update_mode_availablenow",
    "binaryfile_bmp_assets",
    "sssp_weighted_transitions",
    "map_hof_functions_events",
    "kmeans_embeddings",
    "stream_fullouter_join_availablenow",
    "theta_sketch_events",
    "explode_outer_events",
    "llm_corpus_pipeline_documents",
    "join_types_orders",
    "bucketed_join_orders",
    "stream_outer_join_availablenow",
    "logreg_quality_planted",
    "expectations_events",
    "synthetic_stream_availablenow",
    "gapfill_linear_events",
    "stream_restart_pystate_availablenow",
    "bmp_decode_assets",
    "wav_decode_assets",
    "avi_frame_sample_assets",
    "funnel_three_step_events",
    "argmax_functions_events",
    "pandas_udaf_geomean_events",
    "stream_torture_availablenow",
    "billing_reconciliation_events",
    "billing_unbilled_events",
    "billing_stream_availablenow",
]

# Iteration aid: SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the run to the
# named headline queries (unknown names are an error, not a no-op).
_only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
if _only:
    _names = [n.strip() for n in _only.split(",") if n.strip()]
    _bad = [n for n in _names if n not in HEADLINE]
    if _bad:
        sys.exit(f"SPARK_GRAFT_BENCH_ONLY: not in HEADLINE: {_bad}")
    HEADLINE = _names

# N_RUNS > 1 bounds run-to-run variance: per-query time is the MIN
# across runs (the least-noisy estimator of the plan's cost on an
# otherwise-idle machine); the reported value stays the sum of
# per-query times so round-over-round numbers remain comparable.
# n=3: with min-of-2, a single noisy run still sets half the floor.
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def _bench_stream_boot(spark) -> float:
    """Time a minimal availableNow stream (1-row parquet in, parquet
    out) — the fixed startup cost shared by every streaming gate.
    Min over N_RUNS, fresh checkpoint each run (matching how the
    gates themselves execute)."""
    import shutil
    import tempfile
    import time

    root = tempfile.mkdtemp(prefix="bench_stream_boot_")
    try:
        spark.range(1).write.mode("overwrite").parquet(f"{root}/in")
        schema = spark.read.parquet(f"{root}/in").schema
        best = None
        for i in range(N_RUNS):
            t0 = time.perf_counter()
            q = (
                spark.readStream.schema(schema)
                .parquet(f"{root}/in")
                .writeStream.format("parquet")
                .option("path", f"{root}/out{i}")
                .option("checkpointLocation", f"{root}/ckpt{i}")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            t = round(time.perf_counter() - t0, 3)
            best = t if best is None else min(best, t)
        return best
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _bench_compaction(spark, capture=None) -> dict[str, float]:
    """Small-file tax, measured: the same full-scan aggregate over the
    events table fragmented into 256 files vs compacted output
    (sources/parquet.py:compact_files). The delta is pure per-file
    overhead (open/footer/task-schedule) — the cost the compaction
    operator exists to delete, which grows linearly with file count
    at a fixed data size.

    ``capture(name)`` hooks the main loop's fingerprint/io pollers
    (round-12 verdict ask #2: these plans — the compaction payoff —
    ARE the thing benchmarked, so they must be in query_plan_fp);
    ``capture(None)`` discards the setup writes' executions so they
    are never attributed to the first scan."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from big_data_for_smart_houses_spark.sources.parquet import (
        compact_files,
    )

    root = tempfile.mkdtemp(prefix="bench_compaction_")
    try:
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        ev.repartition(256).write.mode("overwrite").parquet(
            f"{root}/small"
        )
        compact_files(
            spark,
            f"{root}/small",
            f"{root}/compacted",
            target_file_bytes=32 * 1024 * 1024,
        )
        if capture is not None:
            capture(None)
        results: dict[str, float] = {}
        for run in range(N_RUNS):
            for name, path in (
                ("scan_small_files", f"{root}/small"),
                ("scan_compacted", f"{root}/compacted"),
            ):
                t0 = time.perf_counter()
                spark.read.parquet(path).agg(
                    F.count(F.lit(1)), F.sum("value")
                ).write.mode("overwrite").format("noop").save()
                t = round(time.perf_counter() - t0, 3)
                results[name] = min(results.get(name, t), t)
                if run == 0 and capture is not None:
                    capture(name)
        return results
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Queries probed by the 10x nonlinear-blowup sweep: the most
# expensive batch entries with join/iteration/window structure (the
# shapes where O(n^k) hides at small SF — round 6's two O(gap²)
# windows were found exactly this way). Streaming gates are excluded:
# their cost is fixed machinery, measured by stream_boot_s.
SCALE10X_FACTOR = 10
SCALE10X_FLAG_RATIO = 15.0
SCALE10X_PROBES = [
    "logreg_quality_planted",
    "semantic_dedup_embeddings",
    "embedding_neardup_pairs",
    "simhash_dedup_documents",
    "minhash_dedup_documents",
    "pagerank_user_transitions",
    "dedup_groups_documents",
    "embedding_ann_ivf",
    "embedding_ann_lsh",
    "cdc_crossdoc_documents",
    "contrastive_triplets_documents",
    "bucketed_join_orders",
    "cms_token_counts",
    "editdist_recall_planted",
    "ppjoin_pairs_documents",
    "bigram_lm_documents",
    "source_kl_documents",
    "dedup_exact_documents",
    "tpch_q7_volume_shipping",
    "tpch_q17_small_qty_revenue",
    "tpch_q20_excess_supply",
    "tpch_q21_waiting_supplier",
    "zipf_slope_documents",
    "bpe_pair_counts_documents",
    "bpe_train_documents",
    "inverted_index_documents",
    "sessionize_events",
    "gapfill_linear_events",
    "rolling_median_events",
    # round-7 late wave: streaming execution gates scale with STATE
    # and staged input; join_types with both join sides
    "stream_upsert_availablenow",
    "join_types_orders",
    # round-7 fifth wave: new iterative supersteps (k-means broadcast
    # assignment, Bellman-Ford frontier) and the full-outer stream
    # join's two-sided state
    "kmeans_embeddings",
    "sssp_weighted_transitions",
    "stream_fullouter_join_availablenow",
    # round-7 sixth wave: prefix-filter candidate volume (PPJoin),
    # the distributed scan family (2 balanced shuffles — must stay
    # linear), and its order-statistics/skyline riders
    "global_rownum_orders",
    "concurrency_sweepline_events",
    "skyline_parts",
    "weighted_quantiles_orders",
    "gini_customer_orders",
    "ks_statistic_events",
    "ntile_scan_orders",
    "trailing_active_users_events",
    "asof_nearest_events",
    # round 9: the deletion-neighborhood join's candidate volume
    # (L+1 keys per string — must stay linear in rows), the
    # pending-interval session trackers' state growth, and the
    # Python-writer sink's per-partition fan-out
    "edit1_neighborhood_customer",
    "minhash_incremental_recall",
    "bpe_apply_documents",
    "bpe_rankmap_documents",
    "stream_device_sessions_availablenow",
    "stream_timeout_sessions_availablenow",
    "pysink_roundtrip_orders",
    # round 10: the HDR sketch's counter volume (bucket count is
    # bounded by the value RANGE, not rows — shuffle should grow
    # sublinearly), its streaming partial-merge variant, and the
    # left-anti join's state volume
    "hdr_quantile_sketch_events",
    "hdr_sketch_stream_availablenow",
    "stream_left_anti_availablenow",
    # round 11: the remaining applyInPandasWithState pair — the EWMA
    # fold (O(keys) state, per-key numpy fold) and LOCF gap-fill
    # (open-bucket accumulator + bounded gap materialization);
    # device/timeout session trackers already sweep above
    "ewma_stream_availablenow",
    "locf_stream_availablenow",
    # round 12: the d>2 skyline's local/merge path — phase-1 local
    # skylines must keep the merge union small as parts grow
    # (probes/skyline10x.py measures the union directly)
    "skyline3d_parts",
]


def _bench_scale10x(spark) -> dict:
    """Nonlinear-blowup sweep (env SPARK_GRAFT_SCALE10X=1): run each
    probe query at 1x and at a deterministic 10x scale-up
    (sources/synthetic.py:scale_up_tables — 10x the keys, constant
    per-key density, linear dup structure) and report BOTH the
    wall-time ratio and the shuffle-write-bytes ratio. rows x10 with
    wall ratio > SCALE10X_FLAG_RATIO flags a superlinear query;
    shuffle growth > row-growth x 1.5 (same 15x bar) with a
    non-trivial absolute size flags a scale-killer hiding behind
    local[32]'s free shuffle — bytes that become NETWORK at 1000
    executors even when local wall time stays flat. One timed run
    per side — the signal sought is 15x-vs-10x, far above noise."""
    import shutil
    import tempfile
    import time

    from big_data_for_smart_houses_spark.queries import QUERIES
    from big_data_for_smart_houses_spark.sources.synthetic import (
        scale_up_tables,
    )

    root = tempfile.mkdtemp(prefix="bench_scale10x_")
    out: dict = {}
    poll = _stage_metrics_poller(spark)
    last_stage, _ = poll(-1)
    # Streaming gates memoize per (gate, sf_dir); the headline pass
    # already ran them at SF_DIR, so without this the 1x timing below
    # would be a memo hit (~0s) and the ratio meaningless.
    prev_memo = os.environ.get("SPARK_GRAFT_NO_STREAM_MEMO")
    os.environ["SPARK_GRAFT_NO_STREAM_MEMO"] = "1"
    try:
        scale_up_tables(spark, SF_DIR, f"{root}/x10", SCALE10X_FACTOR)
        for name in SCALE10X_PROBES:
            fn = QUERIES.get(name)
            if fn is None:
                continue
            try:
                last_stage, _ = poll(last_stage)
                t0 = time.perf_counter()
                fn(spark, SF_DIR).write.mode("overwrite").format(
                    "noop"
                ).save()
                t1 = round(time.perf_counter() - t0, 3)
                last_stage, io1 = poll(last_stage)
                t0 = time.perf_counter()
                fn(spark, f"{root}/x10").write.mode(
                    "overwrite"
                ).format("noop").save()
                t10 = round(time.perf_counter() - t0, 3)
                last_stage, io10 = poll(last_stage)
            except Exception as exc:  # noqa: BLE001
                out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
                continue
            ratio = round(t10 / t1, 2) if t1 > 0 else None
            sw1 = io1["shuffle_write_mb"]
            sw10 = io10["shuffle_write_mb"]
            # shuffle growth bar: row-growth (10x) x 1.5 — but only at
            # a non-trivial absolute size, so a 0.01->0.3 MB startup
            # artifact can't flag
            sw_ratio = round(sw10 / sw1, 2) if sw1 > 0.05 else None
            sw_flag = bool(
                sw_ratio
                and sw_ratio > SCALE10X_FACTOR * 1.5
                and sw10 > 10.0
            )
            out[name] = {
                "t1": t1,
                "t10": t10,
                "ratio": ratio,
                "shuffle_mb_1x": sw1,
                "shuffle_mb_10x": sw10,
                "shuffle_ratio": sw_ratio,
                "flagged": bool(ratio and ratio > SCALE10X_FLAG_RATIO),
                "shuffle_flagged": sw_flag,
            }
            print(
                f"  scale10x {name}: {t1:.2f}s -> {t10:.2f}s"
                f" ({ratio}x); shuffle {sw1:.1f} -> {sw10:.1f} MB"
                f" ({sw_ratio}x)",
                file=sys.stderr,
            )
        # Skyline DISTINCT-GROWTH contract (round-12 verdict ask #7):
        # the value-replicating scale-up above keeps skyline3d's
        # distinct-point count constant (the dedup absorbs the 10x),
        # so the sweep row alone cannot catch a frontier-size
        # regression. This permanent entry re-projects the third
        # dimension from the raw partkey modulo a prime so distinct
        # points genuinely grow ~10x, then ASSERTS the operator's
        # scale contract — the phase-1 local-skyline union the single
        # merge task receives must stay near the true frontier
        # (sublinear), never near the input. The union is measured by
        # an independent copy of the dominance kernel
        # (probes/skyline10x._local_survivors) so the operator under
        # test stays untouched. Flag bar: union growing as fast as
        # half the distinct growth, or past 1% of distinct points,
        # means local dominance stopped pruning — the merge task
        # becomes the 100 TB bottleneck.
        try:
            from pyspark.sql import functions as F

            from probes.skyline10x import _local_survivors

            def _wide_pts(d):
                return (
                    spark.read.parquet(f"{d}/part.parquet")
                    .select(
                        F.col("p_retailprice").alias("_s0"),
                        (-F.col("p_size")).alias("_s1"),
                        (-(F.col("p_partkey") % 10007)).alias("_s2"),
                    )
                    .distinct()
                )
            p1, p10 = _wide_pts(SF_DIR), _wide_pts(f"{root}/x10")
            d1, d10 = p1.count(), p10.count()
            u1, u10 = _local_survivors(p1), _local_survivors(p10)
            growth = d10 / max(d1, 1)
            # The binding contract is ABSOLUTE: the merge task's
            # input must stay ~the frontier size, never near the
            # input — 1% of distinct points is ~60x the measured
            # union at the standing config (128 of 200k). Guards:
            # below ~10k distinct the partitions hold too few points
            # for local dominance to prune (small-input geometry,
            # same idea as the shuffle bar's >10 MB floor), and the
            # growth-ratio rule needs a stable base (frontier sizes
            # in the low tens are integer-lumpy: the measured 13 ->
            # 128 is healthy log^2 growth, not a regression).
            union_flagged = bool(
                d10 > 10_000
                and (
                    u10 > 0.01 * d10
                    or (u1 >= 100 and u10 > u1 * growth * 0.5)
                )
            )
            out["skyline3d_distinct_growth"] = {
                "distinct_1x": d1,
                "distinct_10x": d10,
                "union_1x": u1,
                "union_10x": u10,
                "flagged": union_flagged,
            }
            print(
                f"  scale10x skyline3d_distinct_growth: union {u1} ->"
                f" {u10} over distinct {d1} -> {d10}"
                f" (flagged={union_flagged})",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001
            out["skyline3d_distinct_growth"] = {
                "error": f"{type(exc).__name__}: {exc}"[:200]
            }
        return out
    finally:
        if prev_memo is None:
            os.environ.pop("SPARK_GRAFT_NO_STREAM_MEMO", None)
        else:
            os.environ["SPARK_GRAFT_NO_STREAM_MEMO"] = prev_memo
        shutil.rmtree(root, ignore_errors=True)


def _bench_skew(spark, capture=None) -> dict[str, float]:
    """Time the same skewed shuffle join plain vs salted. The fact is
    the events table with every user_id % 5 == 0 collapsed onto key 0
    (one key = ~20% of rows); plain hashes that key into ONE shuffle
    partition, salted spreads it over 16. Reported as min over
    N_RUNS, same estimator as the headline entries.

    ``capture(name)`` hooks the main loop's fingerprint/io pollers
    (round-12 verdict ask #2: the salt fan-out plan is the thing
    benchmarked); ``capture(None)`` discards the dim-write setup."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from big_data_for_smart_houses_spark.operators.skew import salted_join

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    fact = ev.select(
        F.when((F.col("user_id") % 5) == 0, 0)
        .otherwise(F.col("user_id"))
        .alias("k"),
        "value",
        "ts",
    )
    tmp = tempfile.mkdtemp(prefix="bench_skew_dim_")
    try:
        fact.select("k").distinct().withColumn(
            "attr", F.md5(F.col("k").cast("string"))
        ).write.mode("overwrite").parquet(tmp)
        dim = spark.read.parquet(tmp)
        if capture is not None:
            capture(None)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            results: dict[str, float] = {}
            for run in range(N_RUNS):
                for name, df in (
                    ("skew_join_plain", fact.join(dim, "k")),
                    ("skew_join_salted", salted_join(fact, dim, on="k")),
                ):
                    t0 = time.perf_counter()
                    df.write.mode("overwrite").format("noop").save()
                    t = round(time.perf_counter() - t0, 3)
                    results[name] = min(results.get(name, t), t)
                    if run == 0 and capture is not None:
                        capture(name)
            return results
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _stage_metrics_poller(spark):
    """Per-query physical I/O from the JVM AppStatusStore: shuffle
    read/write bytes, spill, and scan input bytes, summed over the
    stages each query ran. Deltas are keyed by stageId (sum stages
    ABOVE the pre-query max), not by cumulative totals, so the UI
    store evicting old stages (spark.ui.retainedStages) can never
    make a delta go negative. This is the scale signal wall-time
    can't give on local[32]: shuffle bytes are what become network
    at 1000 executors, and spill is what becomes disk pressure.
    Returns poll(after_stage_id) -> (new_max_id, totals_dict); any
    py4j failure degrades to None metrics rather than killing the
    bench."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    statuses = jvm.java.util.ArrayList()
    taskstatus = jvm.java.util.ArrayList()
    quantiles = sc._gateway.new_array(jvm.double, 0)
    mb = 1024.0 * 1024.0

    def poll(after_stage_id: int):
        # The status listener consumes task-end events ASYNC from the
        # bus; poll without draining it and a query's bytes smear into
        # the next entry. waitUntilEmpty() is cheap at this cadence.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        stages = store.stageList(
            statuses, False, False, quantiles, taskstatus
        )
        mx = after_stage_id
        tot = {
            "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0,
            "spill_mb": 0.0,
            "input_mb": 0.0,
        }
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid > mx:
                mx = sid
            if sid <= after_stage_id:
                continue
            tot["shuffle_write_mb"] += s.shuffleWriteBytes() / mb
            tot["shuffle_read_mb"] += s.shuffleReadBytes() / mb
            tot["spill_mb"] += (
                s.memoryBytesSpilled() + s.diskBytesSpilled()
            ) / mb
            tot["input_mb"] += s.inputBytes() / mb
        return mx, {k: round(v, 2) for k, v in tot.items()}

    return poll


def _plan_fingerprinter(spark):
    """Per-query EXECUTED-plan fingerprint (round-11 verdict ask #2):
    a short hash over the canonicalized physical-plan descriptions of
    every SQL execution the query ran, read back from the JVM
    SQLAppStatusStore AFTER the query completes — so under AQE the
    description holds the FINAL adaptive plan, which is exactly where
    the q21-class broadcast-threshold bistability shows up.
    Canonicalization strips run-varying tokens (expression ids,
    Statistics(...) estimates, filesystem/tempdir paths) and keeps
    structure (node tree, join strategies, exchange placement,
    codegen spans), so: fingerprint moved => the plan changed;
    fingerprint identical => a wall-time move is variance or
    same-plan CPU cost (io bytes alone are blind to CPU-only plan
    changes).

    TWO hashes are kept per query, because two different things can
    move a plan description (measured on this engine, round 12):

    * ``fp`` — the full description incl. the FINAL adaptive plan.
      Moves on ANY executed-plan change.
    * ``fp_init`` — the INITIAL (statically-planned) trees only,
      node ids stripped. Static planning is deterministic given the
      same code and stats, so this hash moves ONLY on a genuine
      code/plan/stats change — it is immune to AQE runtime races
      (ks_statistic_events flips BHJ build side run-to-run because
      two ~equal 8.5 MiB broadcast candidates race; q21-class
      runtime conversions are the same family).

    Read together: fp_init moved => real plan change; fp_init same +
    fp moved => AQE runtime re-plan; both same => same plan.

    Returns poll(after_exec_id) -> (new_max_id, fp_or_None,
    fp_init_or_None); walks the executions list from the NEWEST end
    and stops at the watermark, so py4j round-trips are O(new
    executions), not O(retained executions)."""
    import hashlib

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    strip = [
        (re.compile(r"#\d+L?"), "#"),
        (re.compile(r"plan_id=\d+"), "plan_id="),
        # lambda-variable names carry a SESSION-GLOBAL counter
        # (x_16, y_17, ...) that shifts with everything planned
        # earlier in the session — identity noise, not structure
        (re.compile(r"\blambda ([a-z]+)_\d+"), r"lambda \1_"),
        (re.compile(r"Statistics\([^)]*\)"), "Statistics()"),
        # RDD ids (session-global counter, e.g. MapPartitionsRDD[34])
        # and streaming run UUIDs are per-run identity, not structure
        (re.compile(r"RDD\[\d+\]"), "RDD[]"),
        # RDD creation callsites flip between the reflective frame
        # and <unknown> depending on JIT state (e.g. "at
        # applySchemaToPythonRDD at NativeMethodAccessorImpl.java:0"
        # vs "at <unknown>:0") — introspection noise, not structure
        (re.compile(r" at [A-Za-z0-9_.$<>]+:\d+"), " at <callsite>"),
        (
            re.compile(
                r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}"
                r"-[0-9a-f]{4}-[0-9a-f]{12}"
            ),
            "<uuid>",
        ),
        (re.compile(r"file:[^\s\],)]+"), "<path>"),
        (re.compile(r"/(?:root|tmp|home|private)[^\s\],)]*"), "<path>"),
        # auto-generated temp-view names (parameterized SQL, scripting)
        (re.compile(r"_pyspark_[0-9a-f]{32}"), "_pyspark_<id>"),
    ]

    def canon(desc: str) -> str:
        for pat, rep in strip:
            desc = pat.sub(rep, desc)
        return desc

    init_re = re.compile(r"== Initial Plan ==\n(.*?)\n\s*\n", re.S)
    tree_re = re.compile(r"== Physical Plan ==\n(.*?)\n\s*\n", re.S)
    # node ids renumber with the FINAL tree's size, so the initial
    # hash must ignore them
    node_id_re = re.compile(r"\(\d+\)")

    def initial_tree(desc: str) -> str:
        m = init_re.search(desc) or tree_re.search(desc)
        return node_id_re.sub("", m.group(1)) if m else desc

    def poll(after_exec_id: int):
        # The SQL status listener consumes execution-end events ASYNC
        # from the bus (same hazard as the stage poller): without a
        # drain, a just-finished execution can land AFTER this poll
        # and smear into the NEXT query's fingerprint.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        lst = store.executionsList()
        n = lst.size()
        descs = []
        mx = after_exec_id
        for i in range(n - 1, -1, -1):
            e = lst.apply(i)
            eid = e.executionId()
            if eid <= after_exec_id:
                break
            mx = max(mx, eid)
            descs.append(canon(e.physicalPlanDescription()))
        if not descs:
            return mx, None, None
        descs.reverse()  # executionId order — deterministic per gate
        h = hashlib.sha256(
            "\n---\n".join(descs).encode()
        ).hexdigest()[:16]
        hi = hashlib.sha256(
            "\n---\n".join(initial_tree(d) for d in descs).encode()
        ).hexdigest()[:16]
        return mx, h, hi

    return poll


def main() -> None:
    from big_data_for_smart_houses_spark.queries import QUERIES
    from big_data_for_smart_houses_spark.session import get_spark

    # Bench times REAL executions only: disable the streaming gates'
    # session memo so the warm (second) run re-streams end to end.
    os.environ["SPARK_GRAFT_NO_STREAM_MEMO"] = "1"

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM, codegen, parquet footer caches
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()

    # One failing query must not zero out the whole round's numbers
    # (round 3 lost every timing to a single AnalysisException): record
    # the error, skip the query in later runs, keep benchmarking.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    query_io: dict[str, dict] = {}
    query_fp: dict[str, str] = {}
    query_fp_init: dict[str, str] = {}
    try:
        poll_stages = _stage_metrics_poller(spark)
        last_stage_id, _ = poll_stages(-1)
    except Exception:  # noqa: BLE001 - metrics are best-effort
        poll_stages = None
        last_stage_id = -1
    try:
        poll_fp = _plan_fingerprinter(spark)
        last_exec_id, _, _ = poll_fp(-1)
    except Exception:  # noqa: BLE001 - fingerprints are best-effort
        poll_fp = None
        last_exec_id = -1

    def _micro_capture(name):
        """io + plan-fingerprint capture for one entry, polled AFTER it
        runs so AQE plans are final. Both are properties of the plan,
        not the run, so callers capture on the first (cold) run only:
        each poll walks every retained StageData over py4j, and polling
        warm runs would bill wall time to every min-of-N timing for no
        new data. ``name=None`` polls-and-discards (setup writes, a
        failed query) so those executions are never billed to the next
        named entry."""
        nonlocal last_stage_id, last_exec_id, poll_stages, poll_fp
        if poll_stages is not None:
            try:
                last_stage_id, io = poll_stages(last_stage_id)
                if name is not None and name not in query_io:
                    query_io[name] = io
            except Exception:  # noqa: BLE001 - best-effort
                poll_stages = None
        if poll_fp is not None:
            try:
                last_exec_id, fp, fpi = poll_fp(last_exec_id)
                if (
                    name is not None
                    and fp is not None
                    and name not in query_fp
                ):
                    query_fp[name] = fp
                    query_fp_init[name] = fpi
            except Exception:  # noqa: BLE001 - best-effort
                poll_fp = None
    for run in range(N_RUNS):
        for name in HEADLINE:
            fn = QUERIES.get(name)
            if fn is None or name in errors:
                continue
            # Streaming gates execute TWICE (cold + warm), not N_RUNS
            # times: the min is the warm number (codegen/worker
            # startup amortized — same quantity r6's min-of-3
            # reported, at one fewer full stream per gate), and the
            # memo is bypassed below so the warm run is a REAL
            # end-to-end stream, never a cache read.
            if name.endswith("_availablenow") and run > 1:
                continue
            t0 = time.perf_counter()
            try:
                df = fn(spark, SF_DIR)
                df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001 - report, don't die
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"  [{run}] {name}: ERROR {errors[name]}", file=sys.stderr)
                if run == 0:
                    _micro_capture(None)
                continue
            t = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, t), t)
            if run == 0:
                _micro_capture(name)
            print(f"  [{run}] {name}: {t:.3f}s", file=sys.stderr)

    # Stream-boot baseline: the fixed cost every `*_availablenow`
    # gate pays before its first row (query start + checkpoint init +
    # one empty-ish micro-batch). Recorded so round-over-round
    # streaming-gate deltas can be read net of boot noise — a gate
    # that moved by ~stream_boot_s moved by NOTHING.
    try:
        out_boot = _bench_stream_boot(spark)
    except Exception as exc:  # noqa: BLE001
        errors["stream_boot"] = f"{type(exc).__name__}: {exc}"[:300]
        out_boot = None

    # Skew microbenchmark (performance signal for the salting path —
    # correctness is gated separately by salted_join_orders): one key
    # owns 20% of the fact rows; the dim is written out first so its
    # construction isn't billed, and broadcast is disabled so the join
    # actually shuffles (at 100 TB the dim wouldn't broadcast — this
    # measures the shape that exists at scale). AQE skew-split stays ON
    # for the plain side: the delta reported is salting vs what AQE
    # alone does at this partition size.
    try:
        skew_t = _bench_skew(spark, capture=_micro_capture)
        timings.update(skew_t)
    except Exception as exc:  # noqa: BLE001
        errors["skew_bench"] = f"{type(exc).__name__}: {exc}"[:300]

    # Small-file-tax microbenchmark (the compaction operator's
    # standing perf signal, like skew for salting)
    try:
        timings.update(_bench_compaction(spark, capture=_micro_capture))
    except Exception as exc:  # noqa: BLE001
        errors["compaction_bench"] = f"{type(exc).__name__}: {exc}"[:300]

    # Opt-in 10x nonlinear-blowup sweep (several extra minutes):
    # SPARK_GRAFT_SCALE10X=1 python bench.py
    scale10x = None
    if os.environ.get("SPARK_GRAFT_SCALE10X"):
        try:
            scale10x = _bench_scale10x(spark)
        except Exception as exc:  # noqa: BLE001
            errors["scale10x_bench"] = f"{type(exc).__name__}: {exc}"[:300]

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_query_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if out_boot is not None:
        out["stream_boot_s"] = out_boot
    if scale10x is not None:
        out["scale10x"] = scale10x
    if query_io:
        out["query_io"] = query_io
    if query_fp:
        out["query_plan_fp"] = query_fp
        out["query_plan_fp_init"] = query_fp_init
    # The reference's published baseline is consumer THROUGHPUT
    # (300+ events/s, reference README.md:265); report the silver
    # pipeline's end-to-end equivalent in the same unit so the
    # comparison never needs hand arithmetic.
    silver_t = timings.get("silver_pipeline_events")
    if silver_t:
        # Best of SIX: the three interleaved runs above plus three
        # dedicated back-to-back runs here at end-of-bench, when the
        # JVM/codegen/page cache are as warm as they get.
        n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
        fn = QUERIES.get("silver_pipeline_events")
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.mode("overwrite").format(
                "noop"
            ).save()
            silver_t = min(silver_t, time.perf_counter() - t0)
        out["silver_throughput_events_per_s"] = round(n_events / silver_t)
    if errors:
        out["errors"] = errors
    payload = json.dumps(out)
    # The driver keeps only the TAIL of stdout (~2000 chars) and
    # parses the FINAL line: the full per-query JSON (250+ timings +
    # query_io) blew past that window in rounds 6-7, leaving the round
    # artifact with "parsed": null. Persist the complete JSON next to
    # this script (committed per round), then print a compact summary
    # — same schema, "queries" trimmed to the slowest 5 — as the LAST
    # stdout line so the driver's parse always succeeds.
    local = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_LOCAL.json")
    with open(local, "w") as fh:
        fh.write(payload + "\n")
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "n_queries": len(timings),
        "queries": slowest,
        "queries_note": "slowest 5 of "
        f"{len(timings)}; full per-query timings + query_io in "
        "BENCH_LOCAL.json",
    }
    if "silver_throughput_events_per_s" in out:
        compact["silver_throughput_events_per_s"] = out[
            "silver_throughput_events_per_s"
        ]
    if errors:
        compact["n_errors"] = len(errors)
    print(json.dumps(compact))
    if not timings:
        sys.exit(1)


if __name__ == "__main__":
    main()
