"""Tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own files, around the calls it
makes into the program: ``init_state``/``run_round`` of the frontier,
every ``StateStore.write``/``commit`` (through :class:`TimingStore`,
injected with the scheduler's public ``store=`` argument) and every
roster query.  Spans stay in memory and are written once, when the run
ends.  Spark jobs are attributed afterwards from the event log through a
per-thread local property that names the open span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from crypto_crawler_rs_spark.plans.state import StateStore


SPAN_PROPERTY = "perfbench.span"


def maybe_span(tracer: "Tracer | None", name: str, **attrs):
    """``tracer.span(...)`` on traced runs, a no-op on untraced ones."""
    return tracer.span(name, **attrs) if tracer else nullcontext({})


class Tracer:
    """In-memory span recorder.  Span times are wall-clock seconds
    (``time.time``) so they line up with Spark's event-log timestamps."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._sc = sc
        self._lock = threading.Lock()
        # spans opened by the driver's main thread; a span opened in one
        # of the engine's writer threads takes the innermost as parent
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        main = threading.current_thread() is threading.main_thread()
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = {"id": sid, "name": name, "parent": parent,
                   "run_id": self.run_id, "start": time.time(), "end": None}
            rec.update(attrs)
            self.spans.append(rec)
            if main:
                self._stack.append(sid)
        # Spark local properties are per thread, so jobs submitted
        # inside the span — from whichever thread opened it — carry its
        # id into the event log
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty(SPAN_PROPERTY)
            self._sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        try:
            yield rec
        finally:
            if self._sc is not None:
                self._sc.setLocalProperty(SPAN_PROPERTY, prev)
            rec["end"] = time.time()
            if main:
                with self._lock:
                    self._stack.pop()

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = union_length(
            [(c["start"], c["end"]) for c in self.children(span["id"])],
            clip=(span["start"], span["end"]),
        )
        return (span["end"] - span["start"]) - covered

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **(extra or {})}, f)


def union_length(intervals, clip=None) -> float:
    """Total length covered by possibly overlapping intervals."""
    iv = sorted(intervals)
    if clip is not None:
        lo, hi = clip
        iv = [(max(a, lo), min(b, hi)) for a, b in iv if b > lo and a < hi]
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class TimingStore(StateStore):
    """The engine's default ``StateStore`` with a span around every
    table write and manifest commit.  ``outputs`` keeps
    (enclosing span id, table, path) for footer statistics read after
    the run."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer
        self.outputs: list[tuple[int | None, str, str]] = []

    def write(self, df, rnd, name, partitions=None, partition_by=None):
        with self.tracer.span(f"state.write.{name}", table=name) as rec:
            path = super().write(df, rnd, name, partitions, partition_by)
        self.outputs.append((rec["parent"], name, path))
        return path

    def commit(self, manifest):
        with self.tracer.span("state.commit"):
            super().commit(manifest)


def parquet_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of a parquet directory from footers and file sizes
    only — no Spark job."""
    import pyarrow.parquet as pq

    rows = size = 0
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        rows += pq.ParquetFile(f).metadata.num_rows
        size += os.path.getsize(f)
    return rows, size


def jvm_rss_peak_mb(spark) -> float:
    """Peak resident set of the driver JVM (``VmHWM`` from /proc)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_probe_s(repeats: int = 5) -> float:
    """Median time of a fixed single-threaded pure-Python loop, a rough
    reading of host speed.  On the shared reference VM the Spark work
    ran up to ~2.8x slower in some periods; this probe caught the
    single-core part of that (up to ~1.5x), not all of it."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i
        times.append(time.perf_counter() - t)
    return statistics.median(times)


# -- event log --------------------------------------------------------

_PY_NODE_MARKERS = ("Python", "InPandas", "InArrow")
COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "udf_rows", "udf_bytes_sent",
    "udf_bytes_returned", "udf_python_run_s",
)


def _python_metrics(plan: dict, out: dict) -> None:
    """accumulator id -> (metric name, metric type) for every SQL
    metric of a Python-eval node (ArrowEvalPython, MapInPandas, ...)."""
    if any(m in plan["nodeName"] for m in _PY_NODE_MARKERS):
        for m in plan["metrics"]:
            out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for c in plan["children"]:
        _python_metrics(c, out)


_PY_COUNTER = {
    "number of output rows": "udf_rows",
    "data sent to Python workers": "udf_bytes_sent",
    "data returned from Python workers": "udf_bytes_returned",
    "time to run Python workers": "udf_python_run_s",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def read_event_log(log_dir: str) -> list[dict]:
    """Per-job counters from an uncompressed Spark event log: the span
    the job ran under, stage/task counts, executor run
    time, shuffle and spill bytes, and the Python-eval nodes' SQL
    metrics."""
    files = [
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(".")
        and "appstatus" not in os.path.basename(f)
    ]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    py_metrics: dict[int, tuple[str, str]] = {}
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    j = dict.fromkeys(COUNTERS, 0)
                    j["jobs"] = 1
                    span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    j["span"] = int(span) if span is not None else None
                    j["_sql"] = defaultdict(float)
                    jobs[ev["Job ID"]] = j
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _python_metrics(ev["sparkPlanInfo"], py_metrics)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_job:
                        jobs[stage_job[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    j["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    sr = tm.get("Shuffle Read Metrics") or {}
                    j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    j["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    j["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("Metadata") == "sql":
                            try:
                                j["_sql"][acc["ID"]] += float(acc["Update"])
                            except (KeyError, TypeError, ValueError):
                                pass
    # an adaptive re-plan can announce a Python node after tasks that
    # updated its metrics ran, so SQL metrics are matched at the end
    for j in jobs.values():
        for acc_id, v in j.pop("_sql").items():
            if acc_id not in py_metrics:
                continue
            name, mtype = py_metrics[acc_id]
            counter = _PY_COUNTER.get(name)
            if counter is not None:
                j[counter] += v * _TIME_SCALE.get(mtype, 1.0) if counter.endswith("_s") else v
    return list(jobs.values())


def attribute_jobs(jobs: list[dict]) -> dict[int, dict]:
    """Counters per span id.  A job goes to the span named by its local
    property; a job without one (submitted outside every span) is
    dropped."""
    out: dict[int, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for j in jobs:
        if j["span"] is None:
            continue
        acc = out[j["span"]]
        for k in COUNTERS:
            acc[k] += j[k]
    return out


def subtree_counters(tracer: Tracer, per_span: dict[int, dict], root_ids) -> dict:
    """Sum of attributed counters over the given spans and all their
    descendants."""
    kids = defaultdict(list)
    for s in tracer.spans:
        kids[s["parent"]].append(s["id"])
    total = dict.fromkeys(COUNTERS, 0)
    todo = list(root_ids)
    while todo:
        sid = todo.pop()
        for k, v in per_span.get(sid, {}).items():
            total[k] += v
        todo.extend(kids[sid])
    return total


def spark_layer_metrics(c: dict) -> dict:
    """Attributed event-log counters under their per-layer names."""
    return {
        "spark.jobs": c["jobs"],
        "spark.stages": c["stages"],
        "spark.tasks": c["tasks"],
        "spark.executor_run_s": c["executor_run_s"],
        "spark.shuffle_read_bytes": c["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.spill_bytes": c["spill_bytes"],
        "udf.rows_to_python": c["udf_rows"],
        "udf.bytes_to_python": c["udf_bytes_sent"],
        "udf.bytes_from_python": c["udf_bytes_returned"],
        "udf.python_run_s": c["udf_python_run_s"],
    }
