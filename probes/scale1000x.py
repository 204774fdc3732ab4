"""1000x probe: three orders of magnitude past the gate SF.

Pushes the flagship paths one decade past the 100x spot-probes —
sf0.1 x 1000 = 600M lineitem rows / 100M events on a single box — to
answer one question: is the plan still the plan you would want at a
cluster-sized input?

Probes (1x vs Nx, wall + shuffle/spill/input via the bench poller):

* ``pricing_summary`` — the flagship aggregate: partial-agg to a
  handful of groups, shuffle must stay O(groups x partitions), never
  O(n);
* ``silver_pipeline_events`` — the reference's end-to-end
  bronze->silver path: dedup window + 60-row rolling windows over
  Nx the keys at constant per-key density.

Data generation uses an EXPLODE-based replicator equivalent to
sources/synthetic.scale_up_tables for id-shift-only tables (same
``copy * SCALE_KEY_STRIDE`` shifts, same per-copy referential
integrity) — a union of 1000 plan branches would melt the analyzer,
``explode(sequence(0, 999))`` is one branch. Equivalence is
SELF-CHECKED at factor 3 (exceptAll both ways against
scale_up_tables' output) before anything is measured, so the fast
path cannot drift from the documented generator.

Run:  python probes/scale1000x.py [factor] [probe,probe]  (default 1000)
Writes /tmp/scale1000x.json and prints one JSON line per probe per size.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PROBES = [
    "pricing_summary",
    "silver_pipeline_events",
]
# tables the probe queries actually read (pricing: lineitem; silver:
# events); everything else passes through unscaled (fixed dims /
# unread).
SCALED_TABLES = ["lineitem", "events"]


def _scale_fast(spark, src_dir, dst_dir, factor, tables):
    """explode(sequence)-based replica of scale_up_tables for tables
    whose per-copy transform is ID SHIFTS ONLY (lineitem / part /
    orders / events / supplier): one plan branch instead of
    ``factor`` union branches. Same output rows (self-checked in
    main() at factor 3)."""
    from pyspark.sql import functions as F

    from big_data_for_smart_houses_spark.sources.synthetic import (
        SCALE_KEY_STRIDE,
        _SCALE_ID_COLS,
    )

    for t in tables:
        df = spark.read.parquet(f"{src_dir}/{t}.parquet")
        c = df.withColumn(
            "_copy",
            F.explode(F.sequence(F.lit(0), F.lit(factor - 1))),
        )
        for col in _SCALE_ID_COLS.get(t, []):
            c = c.withColumn(
                col,
                F.col(col)
                + F.col("_copy").cast("long") * SCALE_KEY_STRIDE,
            )
        (
            c.drop("_copy")
            .write.mode("overwrite")
            .parquet(f"{dst_dir}/{t}.parquet")
        )


def _selfcheck(spark, src_dir) -> None:
    """Prove the fast generator emits EXACTLY scale_up_tables' rows
    at factor 3 for every table this probe scales."""
    from big_data_for_smart_houses_spark.sources.synthetic import (
        scale_up_tables,
    )

    ref_dir = "/tmp/scale1000x_selfref"
    fast_dir = "/tmp/scale1000x_selffast"
    for d in (ref_dir, fast_dir):
        shutil.rmtree(d, ignore_errors=True)
    scale_up_tables(spark, src_dir, ref_dir, 3, tables=SCALED_TABLES)
    _scale_fast(spark, src_dir, fast_dir, 3, SCALED_TABLES)
    for t in SCALED_TABLES:
        a = spark.read.parquet(f"{ref_dir}/{t}.parquet")
        b = spark.read.parquet(f"{fast_dir}/{t}.parquet")
        extra = b.exceptAll(a).count()
        missing = a.exceptAll(b).count()
        assert extra == 0 and missing == 0, (t, extra, missing)
    for d in (ref_dir, fast_dir):
        shutil.rmtree(d, ignore_errors=True)
    print("selfcheck: fast generator == scale_up_tables at 3x",
          file=sys.stderr)


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    import bench
    from big_data_for_smart_houses_spark.queries import QUERIES
    from big_data_for_smart_houses_spark.session import get_spark

    spark = get_spark("probe_scale1000x")
    spark.sparkContext.setLogLevel("ERROR")
    poll = bench._stage_metrics_poller(spark)

    _selfcheck(spark, SF_DIR)

    scaled_dir = f"/tmp/scale{factor}x_flagship"
    if not os.path.exists(f"{scaled_dir}/lineitem.parquet"):
        t0 = time.perf_counter()
        _scale_fast(spark, SF_DIR, scaled_dir, factor, SCALED_TABLES)
        print(
            f"scale-up materialized in {time.perf_counter()-t0:.0f}s",
            file=sys.stderr,
        )
    # unscaled passthroughs so load_table finds every table it asks
    # for (a dangling dir is a foot-gun for future probe additions)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "documents", "embeddings"):
        dst = f"{scaled_dir}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copy(f"{SF_DIR}/{t}.parquet", dst)

    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    probes = [p for p in PROBES if only is None or p in only]

    results = []
    for label, d in (("1x", SF_DIR), (f"{factor}x", scaled_dir)):
        for name in probes:
            fn = QUERIES[name]
            last_stage, _ = poll(-1)
            t0 = time.perf_counter()
            try:
                n = fn(spark, d).count()
            except Exception as exc:  # noqa: BLE001
                # a single probe blowing its heap must not kill the
                # rest of the matrix — record the failure as a row
                # and move on
                r = {"probe": f"{name}_{label}",
                     "error": f"{type(exc).__name__}: {exc}"[:300]}
                print(json.dumps(r), flush=True)
                results.append(r)
                continue
            wall = round(time.perf_counter() - t0, 1)
            _, io = poll(last_stage)
            r = {"probe": f"{name}_{label}", "wall_s": wall,
                 "rows": n, **io}
            print(json.dumps(r), flush=True)
            results.append(r)

    with open("/tmp/scale1000x.json", "w") as fh:
        json.dump(results, fh, indent=1)


if __name__ == "__main__":
    main()
