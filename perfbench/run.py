#!/usr/bin/env python3
"""Medallion benchmark: bronze -> silver -> gold -> dashboard reads.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 16 --trace 0

Runs from the root of a source checkout. It starts one Spark session on
``local[nproc / 2]``, generates its inputs from ``--seed``, warms up, then
runs operations in a closed loop (one client, next operation after the
previous one returns) until ``--seconds`` of operation time has passed.
Outputs are checked against DuckDB after the timed loop. The last line
of stdout is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it lists the raw
per-operation samples. The exit code is 1 when any output check fails.

Workloads (see README.md):

* ``backfill``  one operation is ``run_bronze_to_silver`` +
  ``run_silver_to_gold`` over a bronze backlog, into fresh output dirs;
* ``hourly``    one operation lands one hour of JSON telemetry, ingests it
  to bronze, runs ``run_full_etl`` and refreshes the six dashboard panels.

With ``--trace 1`` operations alternate untraced and traced; per-layer
metrics are medians over the traced ones, and ``trace.overhead_pct``
compares the two halves.
"""

from __future__ import annotations

import argparse
import datetime as dt
import glob
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

import gen
import oracle
from spans import Tracer, self_times

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "latency_p50_ms": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "setup.generate_s": "s",
    "setup.warmup_s": "s",
    "ingest.wall_ms": "ms",
    "ingest.add_batch_ms": "ms",
    "ingest.latest_offset_ms": "ms",
    "ingest.query_planning_ms": "ms",
    "ingest.wal_commit_ms": "ms",
    "ingest.commit_offsets_ms": "ms",
    "ingest.rows_in": "count",
    "ingest.rows_out": "count",
    "silver.wall_ms": "ms",
    "silver.rows_in": "count",
    "silver.rows_out": "count",
    "silver.jobs": "count",
    "silver.shuffle_write_mb": "MB",
    "silver.spill_mb": "MB",
    "silver.sort_ms": "ms",
    "silver.scan_ms": "ms",
    "silver.files_written": "count",
    "silver.gc_ms": "ms",
    "silver.files_total": "count",
    "silver.dup_survivors": "count",
    "silver_stream.wall_ms": "ms",
    "silver_stream.add_batch_ms": "ms",
    "silver_stream.batches": "count",
    "gold.wall_ms": "ms",
    "gold.jobs": "count",
    "gold.files_read": "count",
    "gold.input_mb": "MB",
    "gold.shuffle_write_mb": "MB",
    "gold.agg_ms": "ms",
    "analytics.kpi_ms": "ms",
    "analytics.by_type_ms": "ms",
    "analytics.trend_ms": "ms",
    "analytics.cost_ms": "ms",
    "analytics.scatter_ms": "ms",
    "analytics.live_ms": "ms",
    "analytics.files_read": "count",
    "jvm.gc_ms": "ms",
    "trace.overhead_pct": "%",
}
SIZES = {
    "backfill": {"devices": 250, "minutes": 500, "warmup": 2, "warmup_full": 2},
    "hourly": {"devices": 200, "history_hours": 2, "warmup": 1},
}
GENERATIONS = 3  # set-ups per run; setup_s reports the median


def _steal_s() -> float:
    """CPU time the host took from this VM so far, over all vCPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    """State of one benchmark run: session, work dir, samples, tracer."""

    def __init__(self, args, sizes: dict) -> None:
        self.seed, self.seconds, self.traced = args.seed, args.seconds, bool(args.trace)
        self.sizes = sizes
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.data = os.path.join(self.work, "data")
        tmp = os.path.join(self.data, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp
        # Half the vCPUs run tasks. The rest absorb the JVM's compiler and GC
        # threads, the Python client, and vCPUs the host slows down; with
        # every vCPU running a task, one slowed vCPU sets a stage's time.
        cores = max(1, os.cpu_count() // 2)
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        import bench
        from big_data_for_smart_houses_spark.session import get_spark

        t0 = time.perf_counter()
        # two shuffle partitions per core, so one slow task does not set a stage's time
        self.spark = get_spark("perfbench", shuffle_partitions=2 * cores, extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.data, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.data, "warehouse"),
            # a fixed heap: GC cadence does not depend on how fast the heap grew
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup = {"session.start_s": time.perf_counter() - t0}
        self.mark("session")
        self.tracer = Tracer(self.spark, bench) if self.traced else None
        self.samples: list[dict] = []
        self.peak_rss = 0.0

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended, in seconds since this module loaded."""
        self.setup.setdefault("phase_end_s", {})[phase] = time.perf_counter() - T0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def generate(self, write) -> str:
        """Run the generator GENERATIONS times into separate dirs, check
        that every copy holds the same data, keep the first."""
        times, digests = [], []
        for i in range(GENERATIONS):
            path = os.path.join(self.data, f"gen{i}")
            t0 = time.perf_counter()
            write(path)
            times.append(time.perf_counter() - t0)
            digests.append(gen.digest(path))
            if i:
                shutil.rmtree(path)
        if len(set(digests)) != 1:
            raise RuntimeError(f"generator is not byte-stable: {digests}")
        self.setup["setup.generate_s"] = statistics.median(times)
        self.setup["generate_all_s"] = times
        self.setup["generator_digest"] = digests[0]
        return os.path.join(self.data, "gen0")

    def loop(self, op, limit: int | None = None) -> None:
        """Closed loop: run ``op(i, sample)`` until ``seconds`` of operation
        time has passed. A traced run alternates untraced and traced
        operations and runs at least two of each."""
        spent, i = 0.0, 0
        while limit is None or i < limit:
            traced = self.traced and i % 2 == 1
            if spent >= self.seconds and (not self.traced or i >= 4):
                break
            sample = {"op": i, "traced": traced, "failed": False}
            if traced:
                self.tracer.begin(i)
            steal0, t0 = _steal_s(), time.perf_counter()
            try:
                op(i, sample)
            except Exception as exc:  # noqa: BLE001 - an op failure is a measured outcome
                sample["failed"], sample["error"] = True, repr(exc)[:500]
            sample["wall_ms"] = (time.perf_counter() - t0) * 1e3
            sample["steal_ms"] = (_steal_s() - steal0) * 1e3
            sample.setdefault("latency_ms", sample["wall_ms"])
            if traced:
                self.tracer.end()
            self.samples.append(sample)
            spent += sample["wall_ms"] / 1e3
            i += 1
            if sample["failed"] and sample.get("fatal"):
                break

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return _vm_hwm_mb(jvm) + _vm_hwm_mb("self")

    def stop(self) -> None:
        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


# ---------------------------------------------------------------- backfill


def backfill(run: Run) -> None:
    from big_data_for_smart_houses_spark.plans import etl

    s = run.sizes
    spark = run.spark
    bronze = run.generate(lambda p: gen.write_bronze(spark, p, run.seed, s["devices"], s["minutes"]))
    planted = gen.planted(run.seed, s["devices"], s["minutes"])
    events = planted["events"] + planted["dup"]

    def etl_pass(src: str, out: str) -> None:
        with run.span("silver"):
            etl.run_bronze_to_silver(spark, src, f"{out}/silver")
        with run.span("gold"):
            etl.run_silver_to_gold(spark, f"{out}/silver", f"{out}/gold")
        spark.catalog.clearCache()  # build_gold caches silver and never unpersists

    t0 = time.perf_counter()
    # Planning and codegen warm up per query, not per row: a few passes
    # over a small backlog, then two over the real one, after which
    # pass times stay level.
    small = os.path.join(run.data, "warm-bronze")
    gen.write_bronze(spark, small, run.seed, 50, 200)
    for i, src in enumerate([small] * s["warmup"] + [bronze] * s["warmup_full"]):
        etl_pass(src, os.path.join(run.data, f"warm{i}"))
        shutil.rmtree(os.path.join(run.data, f"warm{i}"))
    run.setup["setup.warmup_s"] = time.perf_counter() - t0
    run.mark("warmup")

    def op(i: int, sample: dict) -> None:
        sample["out"] = os.path.join(run.data, f"op{i}")
        sample["events"] = events
        etl_pass(bronze, sample["out"])
        if run.tracer:
            sample["silver_files"] = _count_files(f"{sample['out']}/silver")

    run.loop(op)
    run.peak_rss = run.peak_rss_mb()
    run.mark("loop")

    con = oracle.connect(os.path.join(run.data, "tmp"))
    oracle.load_bronze(con, bronze)
    want = oracle.expected_rows(con)
    run.setup["planted"], run.setup["expected_silver_rows"] = planted, want
    for sample in run.samples:
        if sample["failed"]:
            continue
        rows, keys = oracle.silver_rows(con, f"{sample['out']}/silver")
        errors = [] if rows == want else [f"silver rows {rows} != {want}"]
        errors += oracle.check_gold_daily(con, f"{sample['out']}/gold")
        sample["dup_survivors"] = rows - keys
        _fail(sample, errors)
        shutil.rmtree(sample["out"])


# ------------------------------------------------------------------ hourly


def hourly(run: Run) -> None:
    from big_data_for_smart_houses_spark.operators import analytics
    from big_data_for_smart_houses_spark.plans import etl
    from big_data_for_smart_houses_spark.sources.parquet import read_silver
    from big_data_for_smart_houses_spark.streaming import ingest

    s = run.sizes
    spark = run.spark
    # enough deliveries for the warm-up plus a loop of two-second cycles
    hours = s["warmup"] + int(run.seconds) // 2 + 4
    staged = run.generate(lambda p: gen.write_json_hours(
        spark, p, run.seed, s["devices"], s["history_hours"], hours))
    files = [glob.glob(f"{staged}/delivery={k}/part-*")[0] for k in range(hours + 1)]
    d = {n: os.path.join(run.data, n) for n in ("landing", "bronze", "silver", "gold", "ckpt")}
    os.makedirs(d["landing"])
    landed: list[str] = []
    if run.tracer:
        # run_full_etl looks these up as module globals, so wrapping them
        # gives its two stages their own spans without editing the package
        etl.run_bronze_to_silver_incremental = _spanned(run, "silver_stream", etl.run_bronze_to_silver_incremental)
        etl.run_silver_to_gold = _spanned(run, "gold", etl.run_silver_to_gold)

    def cycle(k: int, sample: dict | None) -> None:
        hour = s["history_hours"] - 1 + k  # the newest hour in delivery k
        now = dt.datetime.fromtimestamp(gen.START_S + (hour + 1) * 3600, dt.timezone.utc).replace(tzinfo=None)
        today = (now - dt.timedelta(seconds=1)).date()
        with open(files[k]) as fh:
            n_lines = sum(1 for _ in fh)
        dst = os.path.join(d["landing"], f"delivery-{k:04d}.json")
        t_land = time.perf_counter()
        os.replace(files[k], dst)
        landed.append(dst)
        with run.span("ingest") as sp:
            raw = spark.readStream.text(d["landing"])
            q = ingest.write_bronze_stream(
                ingest.parse_telemetry_json(raw), d["bronze"], f"{d['ckpt']}/bronze", available_now=True
            )
            q.awaitTermination()
            if sp is not None:
                sp["query_progress"] = [json.loads(p.json) for p in q.recentProgress]
        with run.span("etl"):
            etl.run_full_etl(spark, d["bronze"], d["silver"], d["gold"], f"{d['ckpt']}/silver")
        with run.span("analytics.kpi"):
            daily = spark.read.parquet(f"{d['gold']}/daily_energy_consumption")
            health = spark.read.parquet(f"{d['gold']}/device_health_metrics")
            summary = spark.read.parquet(f"{d['gold']}/daily_business_summary")
            silver = read_silver(spark, d["silver"])
            kpi = analytics.kpi_with_fallback(daily, silver, summary, health, today, now).collect()[0]
        t_kpi = time.perf_counter()
        with run.span("analytics.by_type"):
            analytics.energy_by_device_type(daily).collect()
        with run.span("analytics.trend"):
            analytics.daily_energy_trend(daily).collect()
        with run.span("analytics.cost"):
            analytics.daily_cost_trend(daily).collect()
        with run.span("analytics.scatter"):
            analytics.health_scatter(health).collect()
        with run.span("analytics.live"):
            live = analytics.live_readings(silver, now).collect()
        if sample is not None:
            sample.update(delivery=k, events=n_lines, latency_ms=(t_kpi - t_land) * 1e3,
                          kpi=kpi.asDict(), today=str(today), live_rows=len(live))
            if run.tracer:
                sample["silver_files"] = _count_files(d["silver"])
        spark.catalog.clearCache()

    t0 = time.perf_counter()
    for k in range(s["warmup"] + 1):
        cycle(k, None)
    run.setup["setup.warmup_s"] = time.perf_counter() - t0
    run.mark("warmup")
    first = s["warmup"] + 1

    def op(i: int, sample: dict) -> None:
        sample["fatal"] = True  # a failed cycle leaves the pipeline state unknown
        cycle(first + i, sample)

    run.loop(op, limit=hours + 1 - first)
    run.peak_rss = run.peak_rss_mb()
    run.mark("loop")

    con = oracle.connect(os.path.join(run.data, "tmp"))
    oracle.load_json(con, landed)
    for sample in run.samples:
        if sample["failed"]:
            continue
        k = sample["delivery"]
        rows, _ = oracle.silver_rows(con, f"{d['silver']}/batch_id={k}")
        want = oracle.expected_rows(con, batch=k)
        errors = [] if rows == want else [f"silver batch {k} rows {rows} != {want}"]
        errors += oracle.check_kpi(con, sample["kpi"], sample["today"], k)
        if sample["live_rows"] != 100:
            errors.append(f"live panel rows {sample['live_rows']} != 100")
        _fail(sample, errors)
    done = [x for x in run.samples if not x["failed"]]
    if done:
        rows, keys = oracle.silver_rows(con, d["silver"])
        want_rows = oracle.expected_rows(con)
        (want_keys,) = con.execute("SELECT count(DISTINCT (device_id, ts)) FROM expect").fetchone()
        errors = [] if (rows, keys) == (want_rows, want_keys) else [
            f"silver rows/keys {(rows, keys)} != {(want_rows, want_keys)}"]
        errors += oracle.check_gold_daily(con, d["gold"])
        done[-1]["dup_survivors"] = rows - keys
        _fail(done[-1], errors)


def _count_files(path: str) -> int:
    return sum(len(files) for _root, _dirs, files in os.walk(path))


def _spanned(run: Run, name: str, fn):
    def call(*args, **kwargs):
        with run.span(name):
            return fn(*args, **kwargs)

    return call


def _fail(sample: dict, errors: list[str]) -> None:
    if errors:
        sample["failed"] = True
        sample["error"] = "; ".join(errors)[:500]


WORKLOADS = {"backfill": backfill, "hourly": hourly}


# ----------------------------------------------------------------- metrics


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def end_to_end(run: Run) -> dict[str, float]:
    ok = [x for x in run.samples if not x["failed"]]
    return {
        "setup_s": run.setup["session.start_s"] + run.setup["setup.generate_s"] + run.setup["setup.warmup_s"],
        # per-operation rates, so one operation slowed by the host weighs
        # as one sample, not by its length
        "events_per_s": _median(x["events"] / x["wall_ms"] * 1e3 for x in ok),
        "latency_p50_ms": _median(x["latency_ms"] for x in ok),
        "peak_rss_mb": run.peak_rss,
    }


def per_layer(run: Run) -> dict[str, float]:
    spans = run.tracer.spans
    own = self_times(spans)
    traced = [x for x in run.samples if x["traced"] and not x["failed"]]
    plain = [x for x in run.samples if not x["traced"] and not x["failed"]]
    per_op: list[dict[str, float]] = []
    for x in traced:
        by = {sp["name"]: sp for sp in spans if sp["op"] == x["op"]}
        v: dict[str, float] = {}

        def wall(name):
            return own[by[name]["id"]] if name in by else 0.0

        def c(name, key):
            return by[name]["counters"].get(key, 0.0) if name in by else 0.0

        silver = "silver" if "silver" in by else "silver_stream"
        if "ingest" in by:
            prog = by["ingest"].get("query_progress", [])
            for key, src in (("add_batch_ms", "addBatch"), ("latest_offset_ms", "latestOffset"),
                             ("query_planning_ms", "queryPlanning"), ("wal_commit_ms", "walCommit"),
                             ("commit_offsets_ms", "commitOffsets")):
                v[f"ingest.{key}"] = float(sum(p["durationMs"].get(src, 0) for p in prog))
            v["ingest.rows_in"] = float(sum(p["numInputRows"] for p in prog))
            v["ingest.rows_out"] = c("ingest", "filter_rows_out")
            v["ingest.wall_ms"] = wall("ingest")
        v["silver.wall_ms"] = wall(silver)
        for key in ("rows_in", "rows_out", "jobs", "shuffle_write_mb", "spill_mb",
                    "sort_ms", "scan_ms", "files_written", "gc_ms"):
            v[f"silver.{key}"] = c(silver, key)
        if silver == "silver_stream":
            prog = by[silver]["progress"] if silver in by else []
            v["silver_stream.wall_ms"] = wall(silver)
            v["silver_stream.add_batch_ms"] = float(sum(p["durationMs"].get("addBatch", 0) for _q, p in prog))
            v["silver_stream.batches"] = float(len(prog))
        v["silver.files_total"] = float(x["silver_files"])
        v["gold.wall_ms"] = wall("gold")
        for key in ("jobs", "files_read", "input_mb", "shuffle_write_mb", "agg_ms"):
            v[f"gold.{key}"] = c("gold", key)
        files = 0.0
        for panel in ("kpi", "by_type", "trend", "cost", "scatter", "live"):
            v[f"analytics.{panel}_ms"] = wall(f"analytics.{panel}")
            files += c(f"analytics.{panel}", "files_read")
        v["analytics.files_read"] = files
        v["jvm.gc_ms"] = sum(sp["counters"]["gc_ms"] for sp in by.values() if sp["parent"] is None)
        per_op.append(v)
    out = {name: _median(v.get(name, 0.0) for v in per_op) for name in PER_LAYER}
    out.update({k: run.setup[k] for k in ("session.start_s", "setup.generate_s", "setup.warmup_s")})
    out["silver.dup_survivors"] = float(max((x.get("dup_survivors", 0) for x in run.samples), default=0))
    t, p = _median(x["wall_ms"] for x in traced), _median(x["wall_ms"] for x in plain)
    out["trace.overhead_pct"] = (t / p - 1.0) * 100.0 if p else 0.0
    return out


def main(argv=None, sizes: dict | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    run = Run(args, (sizes or SIZES)[args.workload])
    try:
        WORKLOADS[args.workload](run)
        run.mark("check")
    finally:
        run.stop()
    run.mark("stop")
    if run.traced:
        values, units = per_layer(run), PER_LAYER
    else:
        values, units = end_to_end(run), END_TO_END
    failed = sum(x["failed"] for x in run.samples)
    raw = {"setup": run.setup, "samples": [
        {k: v for k, v in x.items() if k not in ("kpi", "out")} for x in run.samples]}
    with open(os.path.join(run.work, "samples.json"), "w") as fh:
        json.dump(raw | {"spans": run.tracer.spans if run.tracer else []}, fh, default=str)
    shutil.rmtree(run.data, ignore_errors=True)
    print("samples " + json.dumps(raw, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.samples),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    sys.stdout.flush()
    return 0 if failed == 0 and run.samples else 1


if __name__ == "__main__":
    sys.exit(main())
