"""Spans around the benchmark's calls into each layer, with Spark's own
counters read from outside the package at each span boundary.

A span records name, start, end, parent and operation id. Leaf spans also
carry the counters Spark kept while they were open:

* stage totals (shuffle write, spill, input bytes) from the JVM status
  store, through ``bench._stage_metrics_poller``;
* the executed-plan fingerprint, through ``bench._plan_fingerprinter``;
* SQL node metrics (sort, scan and aggregation time, files read and
  written, rows scanned and written, jobs) of the SQL executions that
  ended inside the span;
* JVM garbage-collection time;
* streaming progress events from a ``StreamingQueryListener``.

With tracing off, :meth:`Tracer.span` is a no-op and nothing polls.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# (plan node name prefix, metric name) -> counter name
SQL_METRICS = {
    ("Sort", "sort time"): "sort_ms",
    ("Scan", "scan time"): "scan_ms",
    ("Scan", "number of files read"): "files_read",
    ("Scan", "number of output rows"): "rows_in",
    ("Filter", "number of output rows"): "filter_rows_out",
    ("HashAggregate", "time in aggregation build"): "agg_ms",
    ("ObjectHashAggregate", "time in aggregation build"): "agg_ms",
    ("Execute InsertIntoHadoopFsRelationCommand", "number of written files"): "files_written",
    ("Execute InsertIntoHadoopFsRelationCommand", "number of output rows"): "rows_out",
}
_UNITS = {"ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6, "B": 1.0, "KiB": 2.0**10,
          "MiB": 2.0**20, "GiB": 2.0**30}
_VALUE = re.compile(r"^([\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric: the total on its last line,
    e.g. ``'400,000'``, ``'27 ms'`` or ``'total (min, ...)\\n1.4 s (...)'``,
    in ms for times and bytes for sizes."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Progress(StreamingQueryListener):
    """Collects every streaming progress event as (query id, progress)."""

    def __init__(self) -> None:
        self.events: list[tuple[str, dict]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.events.append((str(p.id), {
            "durationMs": dict(p.durationMs),
            "numInputRows": p.numInputRows,
        }))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Span recorder. ``enabled`` is switched per operation, so one
    traced run can interleave traced and untraced operations."""

    def __init__(self, spark, bench_module) -> None:
        self.spark = spark
        self.enabled = False
        self.op = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gc_beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self._stages = bench_module._stage_metrics_poller(spark)
        self._plans = bench_module._plan_fingerprinter(spark)
        self._stage_wm, _ = self._stages(-1)
        self._exec_wm, _, _ = self._plans(-1)
        self.progress = Progress()

    def gc_ms(self) -> float:
        beans = self._gc_beans
        return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))

    def begin(self, op: int) -> None:
        """Start tracing operation ``op``; what ran before is not billed to it."""
        self._bus.waitUntilEmpty()
        self._stage_wm, _ = self._stages(self._stage_wm)
        self._exec_wm, _, _ = self._plans(self._exec_wm)
        self.enabled, self.op = True, op
        self.spark.streams.addListener(self.progress)

    def end(self) -> None:
        self._bus.waitUntilEmpty()
        self.spark.streams.removeListener(self.progress)
        self.enabled = False

    def _sql_counters(self, after: int) -> dict:
        out = {"jobs": 0.0}
        lst = self._sql.executionsList()
        for i in range(lst.size() - 1, -1, -1):
            e = lst.apply(i)
            eid = e.executionId()
            if eid <= after:
                break
            out["jobs"] += e.jobs().size()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = next((c for (p, mn), c in SQL_METRICS.items()
                                if mn == m.name() and name.startswith(p)), None)
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] = out.get(key, 0.0) + parse_metric(v.get())
        return out

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        # the status store is read at span ends only (a stage poll walks
        # every retained stage); spans of one operation run back to back
        stage_wm, exec_wm = self._stage_wm, self._exec_wm
        n_events = len(self.progress.events)
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "id": next(self._ids)}
        gc0 = self.gc_ms()
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            gc1 = self.gc_ms()
            self._bus.waitUntilEmpty()
            self._stage_wm, stage = self._stages(stage_wm)
            self._exec_wm, fp, fp_init = self._plans(exec_wm)
            counters = {"gc_ms": gc1 - gc0} | stage | self._sql_counters(exec_wm)
            rec["counters"] = counters
            rec["plan_fp"], rec["plan_fp_init"] = fp, fp_init
            rec["progress"] = self.progress.events[n_events:]
            self.spans.append(rec)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in ms: its duration minus its children's."""
    own = {s["id"]: (s["end"] - s["start"]) * 1e3 for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in own:
            own[s["parent"]] -= (s["end"] - s["start"]) * 1e3
    return own
