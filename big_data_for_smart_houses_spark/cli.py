"""Command-line entry points mirroring the reference's runnable
processes (reference README.md:125-135: producer, ingest consumer, ETL
scheduler, dashboard):

    python -m big_data_for_smart_houses_spark simulate --bronze ... [--seconds 10]
    python -m big_data_for_smart_houses_spark silver   --bronze ... --silver ... [--catalog ...]
    python -m big_data_for_smart_houses_spark gold     --silver ... --gold ...
    python -m big_data_for_smart_houses_spark etl      --bronze ... --silver ... --gold ... --ckpt ...
    python -m big_data_for_smart_houses_spark analytics --gold ...

`simulate` replaces the Kafka producer with the rate-source simulator
(no broker needed); with a broker, `streaming.ingest.kafka_sink` /
`telemetry_stream_from_kafka` provide the Kafka path.
"""

from __future__ import annotations

import argparse
import sys


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--app-name", default="smart-houses-spark")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="big_data_for_smart_houses_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("simulate", help="rate-source telemetry -> bronze parquet")
    p.add_argument("--bronze", required=True)
    p.add_argument("--ckpt", required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--rows-per-second", type=int, default=100)
    p.add_argument(
        "--trigger-seconds",
        type=int,
        default=5,
        help="micro-batch cadence (reference default is 30 s; 5 s here "
        "so short simulations commit at least one batch)",
    )
    _add_common(p)

    p = sub.add_parser("silver", help="batch bronze -> silver")
    p.add_argument("--bronze", required=True)
    p.add_argument("--silver", required=True)
    p.add_argument("--catalog")
    p.add_argument("--since", help="YYYY-MM-DD partition lower bound")
    _add_common(p)

    p = sub.add_parser("gold", help="silver -> gold snapshots")
    p.add_argument("--silver", required=True)
    p.add_argument("--gold", required=True)
    p.add_argument("--since")
    _add_common(p)

    p = sub.add_parser("etl", help="incremental silver + gold recompute")
    p.add_argument("--bronze", required=True)
    p.add_argument("--silver", required=True)
    p.add_argument("--gold", required=True)
    p.add_argument("--ckpt", required=True)
    p.add_argument("--catalog")
    _add_common(p)

    p = sub.add_parser("analytics", help="print dashboard KPIs/tables")
    p.add_argument("--gold", required=True)
    _add_common(p)

    p = sub.add_parser(
        "dataprep",
        help="corpus ops over a (doc_id, text) parquet: dedup "
        "(exact/minhash/simhash/sentence/cdc-crossdoc), split, shuffle, "
        "scrub-pii, quality, decontam, profile, drift, chunk-cdc, "
        "lm-score, sample-wor, pack-offsets, zorder, vocab-bpe, "
        "invindex, kl, pagerank, snapshot-diff",
    )
    p.add_argument("--input", required=True, help="input parquet path")
    p.add_argument("--out", required=True, help="output parquet path")
    p.add_argument(
        "--op",
        required=True,
        choices=[
            "dedup-exact",
            "dedup-minhash",
            "dedup-simhash",
            "dedup-sentence",
            "split",
            "shuffle",
            "scrub-pii",
            "quality",
            "decontam",
            "profile",
            "chunk-cdc",
            "lm-score",
            "dedup-cdc-crossdoc",
            "sample-wor",
            "pack-offsets",
            "zorder",
            "drift",
            "bloom-probe",
            "vocab-bpe",
            "invindex",
            "kl",
            "pagerank",
            "snapshot-diff",
        ],
    )
    p.add_argument("--test-input", help="test-set parquet (decontam)")
    p.add_argument("--b-input", help="second snapshot parquet (drift)")
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--salt", type=int, default=0)
    p.add_argument("--k", type=int, default=100, help="sample size (sample-wor)")
    p.add_argument(
        "--weight-col", default="n_chars", help="weight column (sample-wor)"
    )
    p.add_argument(
        "--budget", type=int, default=2048, help="token budget (pack-offsets)"
    )
    p.add_argument(
        "--shard-col", default="lang", help="shard column (pack-offsets)"
    )
    p.add_argument(
        "--cols",
        default="doc_id,n_chars",
        help="comma-separated pair of layout columns (zorder)",
    )
    _add_common(p)

    args = parser.parse_args(argv)

    from pyspark.sql.functions import col as F_col

    from .session import get_spark, scale_profile

    spark = get_spark(args.app_name)
    import datetime as dt

    # analytics and dataprep size their shuffle layout from their input
    # volume inside a restoring ``scale_profile`` block: pointed at a
    # 100 TB table they get the measured partition profile, and tiny
    # inputs keep the session's layout. silver/gold/etl are not
    # wrapped — plans/etl.py sizes each of their phases from the
    # volume that phase reads, and an outer block would become every
    # inner block's floor.
    if args.cmd == "simulate":
        from .streaming.ingest import write_bronze_stream
        from .streaming.simulator import telemetry_stream_from_rate

        stream = telemetry_stream_from_rate(
            spark, rows_per_second=args.rows_per_second
        )
        q = write_bronze_stream(
            stream,
            args.bronze,
            args.ckpt,
            trigger=f"{args.trigger_seconds} seconds",
        )
        q.awaitTermination(args.seconds)
        q.stop()
    elif args.cmd == "silver":
        from .plans import run_bronze_to_silver

        since = dt.date.fromisoformat(args.since) if args.since else None
        run_bronze_to_silver(
            spark, args.bronze, args.silver, args.catalog, since=since
        )
    elif args.cmd == "gold":
        from .plans import run_silver_to_gold

        since = dt.date.fromisoformat(args.since) if args.since else None
        run_silver_to_gold(spark, args.silver, args.gold, since=since)
    elif args.cmd == "etl":
        from .plans import run_full_etl

        run_full_etl(
            spark, args.bronze, args.silver, args.gold, args.ckpt, args.catalog
        )
    elif args.cmd == "analytics":
        from .operators.analytics import (
            daily_energy_trend,
            energy_by_device_type,
            health_scatter,
        )

        with scale_profile(spark, args.gold):
            daily = spark.read.parquet(
                f"{args.gold}/daily_energy_consumption"
            )
            health = spark.read.parquet(f"{args.gold}/device_health_metrics")
            energy_by_device_type(daily).show(truncate=False)
            daily_energy_trend(daily).show(truncate=False)
            health_scatter(health).show(truncate=False)
    elif args.cmd == "dataprep":
        inputs = [p for p in (args.input, args.test_input, args.b_input) if p]
        with scale_profile(spark, *inputs):
            docs = spark.read.parquet(args.input)
            if args.op == "dedup-exact":
                from .extensions.dedup import exact_dedup

                # keep one row per fingerprint: join keepers back to docs
                keepers = exact_dedup(docs).select(
                    F_col("keeper_id").alias("doc_id")
                )
                out = docs.join(keepers, "doc_id", "left_semi")
            elif args.op in ("dedup-minhash", "dedup-simhash"):
                from .extensions.dedup import (
                    dedup_groups,
                    minhash_lsh_pairs,
                    simhash_neardup_pairs,
                )

                pairs = (
                    minhash_lsh_pairs(docs)
                    if args.op == "dedup-minhash"
                    else simhash_neardup_pairs(docs)
                ).select("id1", "id2")
                groups = dedup_groups(docs, pairs)
                out = docs.join(groups, "doc_id").filter(
                    F_col("doc_id") == F_col("group_id")
                ).drop("group_id")
            elif args.op == "split":
                from .extensions.sampling import deterministic_split

                out = deterministic_split(docs, salt=args.salt)
            elif args.op == "shuffle":
                from .extensions.sampling import deterministic_shuffle

                out = deterministic_shuffle(docs, salt=args.salt)
            elif args.op == "scrub-pii":
                from .extensions.text import scrub_pii

                out = scrub_pii(docs)
            elif args.op == "dedup-sentence":
                from .extensions.text import sentence_dedup

                out = sentence_dedup(docs)
            elif args.op == "quality":
                from .extensions.text import gopher_quality_flags

                out = gopher_quality_flags(docs)
            elif args.op == "profile":
                from .extensions.profiling import profile_columns

                out = profile_columns(docs, docs.columns)
            elif args.op == "chunk-cdc":
                from .extensions.text import cdc_chunk_documents

                out = cdc_chunk_documents(docs)
            elif args.op == "lm-score":
                from .extensions.ranking import bigram_lm_scores

                out = bigram_lm_scores(docs)
            elif args.op == "dedup-cdc-crossdoc":
                from .extensions.text import cdc_crossdoc_stats

                stats = cdc_crossdoc_stats(docs).filter(
                    ~F_col("mostly_shared")
                )
                out = docs.join(
                    stats.select("doc_id"), "doc_id", "left_semi"
                )
            elif args.op == "sample-wor":
                from .extensions.sampling import weighted_sample_wor

                out = weighted_sample_wor(
                    docs, args.weight_col, args.k, salt=args.salt
                )
            elif args.op == "pack-offsets":
                from .extensions.sampling import pack_with_offsets
                from .extensions.text import token_count

                staged = docs.withColumn(
                    "n_tokens", token_count(F_col("text")).cast("long")
                )
                out = pack_with_offsets(
                    staged, "n_tokens", args.budget, shard_col=args.shard_col
                )
            elif args.op == "zorder":
                from .extensions.layout import (
                    ZORDER_BITS,
                    cluster_by_zorder,
                    zorder_key_nd,
                )

                cols = [c.strip() for c in args.cols.split(",") if c.strip()]
                if len(cols) < 2:
                    parser.error(
                        "--op zorder needs at least two comma-separated "
                        f"columns in --cols (got {args.cols!r})"
                    )
                if len(cols) == 2:
                    out = cluster_by_zorder(docs, cols[0], cols[1])
                else:
                    # N-dim route: shrink bits so the interleave fits a long
                    bits = min(ZORDER_BITS, 62 // len(cols))
                    out = (
                        zorder_key_nd(docs, cols, bits)
                        .repartitionByRange(32, "zorder_key")
                        .sortWithinPartitions("zorder_key")
                    )
            elif args.op == "bloom-probe":
                # membership filter: keys from --input, probe --b-input;
                # output = probe rows that MIGHT be members (no false
                # negatives; survivors feed an exact semi-join)
                if not args.b_input:
                    parser.error("--op bloom-probe requires --b-input")
                from .extensions.sketches import (
                    bloom_build,
                    bloom_might_contain,
                )

                key_col = args.cols.split(",")[0].strip()
                if not key_col:
                    parser.error(
                        "--op bloom-probe needs a key column in --cols"
                    )
                members = docs.select(
                    F_col(key_col).cast("string").alias("_bf_key")
                ).distinct()
                probe = spark.read.parquet(args.b_input)
                keyed = probe.withColumn(
                    "_bf_key", F_col(key_col).cast("string")
                )
                verdicts = bloom_might_contain(
                    bloom_build(members, "_bf_key"),
                    keyed.select("_bf_key").distinct(),
                    "_bf_key",
                )
                out = (
                    keyed.join(verdicts, "_bf_key")
                    .filter(F_col("might_contain"))
                    .drop("_bf_key", "might_contain")
                )
            elif args.op == "vocab-bpe":
                from .extensions.vocab import bpe_pair_counts

                out = bpe_pair_counts(docs, top_k=args.k)
            elif args.op == "invindex":
                from .extensions.vocab import inverted_index

                out = inverted_index(docs, max_postings=args.k)
            elif args.op == "kl":
                # group column = first --cols entry (default doc_id makes
                # no sense for KL; pass e.g. --cols source)
                from .extensions.profiling import token_kl_by_group

                grp = args.cols.split(",")[0].strip()
                if not grp:
                    parser.error("--op kl needs a group column in --cols")
                out = token_kl_by_group(docs, group_col=grp)
            elif args.op == "pagerank":
                # --cols src,dst[,weight] over an EDGE-LIST parquet
                from .extensions.graph import pagerank

                pr_cols = [
                    c.strip() for c in args.cols.split(",") if c.strip()
                ]
                if len(pr_cols) not in (2, 3):
                    parser.error(
                        "--op pagerank needs --cols src,dst[,weight] "
                        f"(got {args.cols!r})"
                    )
                out = pagerank(
                    docs,
                    src=pr_cols[0],
                    dst=pr_cols[1],
                    weight=pr_cols[2] if len(pr_cols) == 3 else None,
                )
            elif args.op == "snapshot-diff":
                # keys = --cols; every other shared column is compared
                if not args.b_input:
                    parser.error("--op snapshot-diff requires --b-input")
                from .operators.merge import snapshot_diff

                keys = [c.strip() for c in args.cols.split(",") if c.strip()]
                b_snap = spark.read.parquet(args.b_input)
                shared = [
                    c
                    for c in docs.columns
                    if c in set(b_snap.columns) and c not in keys
                ]
                if not keys or not shared:
                    parser.error(
                        "--op snapshot-diff needs key columns in --cols and "
                        "at least one shared non-key column to compare"
                    )
                out = snapshot_diff(
                    docs, b_snap, keys=keys, compare_cols=shared
                )
            elif args.op == "drift":
                if not args.b_input:
                    parser.error("--op drift requires --b-input")
                from .extensions.profiling import profile_drift

                b_snap = spark.read.parquet(args.b_input)
                shared = [c for c in docs.columns if c in set(b_snap.columns)]
                out = profile_drift(docs, b_snap, shared)
            else:  # decontam
                if not args.test_input:
                    parser.error("--op decontam requires --test-input")
                from .extensions.decontam import decontaminate

                test = spark.read.parquet(args.test_input)
                out = decontaminate(docs, test, threshold=args.threshold)
            out.write.mode("overwrite").parquet(args.out)
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
