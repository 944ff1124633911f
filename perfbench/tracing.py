"""Traced-run instrumentation, all of it outside the program.

* ``Tracer`` keeps spans (run -> pass -> query -> build/exec) and named
  counters in memory and writes them out once, at the end of the run.
* ``LayerProbe`` wraps the public functions of the program's layers that
  run inside a pass (catalog, engine, pipeline) and times the calls the
  benchmark makes into the others (registry builders, stream runners,
  sinks), charging call counts and inclusive wall time to the layer and
  keeping each call's wall-clock interval. Session start and view
  registration are timed by the runner's set-up loop.
* ``plan_record`` reads a collected DataFrame's Catalyst phase times (and
  their wall-clock intervals) and walks its AQE final plan (through every
  ``*QueryStage.plan()``) for per-operator SQL metrics.
* ``job_counts`` reads the status tracker for a job group, and
  ``read_event_log`` folds the uncompressed event log's per-task metrics
  into job groups and returns every job's submission-to-completion
  interval.
* ``coverage`` measures how much of a query's wall time those intervals
  account for, counting overlapping intervals once.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, key: str, value: float) -> None:
        self.counters[key] += value

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": dict(self.counters), **extra}, f, default=str)


class LayerProbe:
    """Wrap layer entry points; ``active`` gates whether calls are charged
    (set only while a traced pass runs)."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.active = False
        self.intervals: list[tuple[str, float, float]] = []  # (key, start, end), epoch seconds
        self._undo: list[tuple[object, str, object]] = []

    def call(self, key: str, fn, *args, **kwargs):
        """Call ``fn``, charging it to ``key`` while the probe is active."""
        if not self.active:
            return fn(*args, **kwargs)
        t0, w0 = time.perf_counter(), time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            self.tracer.add(key + "_s", time.perf_counter() - t0)
            self.tracer.add(key + ".calls", 1)
            self.intervals.append((key, w0, time.time()))

    def _timed(self, fn, key: str):
        probe = self

        def wrapper(*args, **kwargs):
            return probe.call(key, fn, *args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def _patch_everywhere(self, original, key: str) -> None:
        """Replace ``original`` wherever a program module bound it by name."""
        wrapped = self._timed(original, key)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("bigdatacw1_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, wrapped)

    def install(self) -> None:
        from bigdatacw1_spark import pipeline
        from bigdatacw1_spark.engine import Engine
        from bigdatacw1_spark.sources import catalog

        self._patch_everywhere(catalog.load_table, "sources.catalog.load")
        self._patch_everywhere(catalog._load_table_uncached, "sources.catalog.miss")
        self._patch_everywhere(pipeline.compile_pipeline, "pipeline.compile")
        for method, key in (("sql", "engine.sql"), ("pipeline", "engine.pipeline")):
            self._undo.append((Engine, method, getattr(Engine, method)))
            setattr(Engine, method, self._timed(getattr(Engine, method), key))

    def uninstall(self) -> None:
        for obj, attr, val in reversed(self._undo):
            setattr(obj, attr, val)
        self._undo.clear()


def _java_list(spark, scala_seq) -> list:
    # Index, don't iterate: py4j ends an iteration with a Java exception,
    # which PySpark's error conversion makes cost ~25 ms.
    jl = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq)
    return [jl.get(i) for i in range(jl.size())]


def _option(scala_map, key: str):
    opt = scala_map.get(key)
    return opt.get() if opt.isDefined() else None


def _metric(node, key: str) -> int:
    m = _option(node.metrics(), key)
    return m.value() if m is not None else 0


def plan_record(spark, df) -> dict:
    """Catalyst phase milliseconds and per-operator totals for a DataFrame
    that has been collected."""
    qe = df._jdf.queryExecution()
    rec = {"scan_rows": 0, "broadcast_bytes": 0, "python_rows": 0, "python_ms": 0, "nodes": 0,
           "phase_intervals": []}
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        summary = _option(phases, phase)
        rec[phase + "_ms"] = summary.durationMs() if summary is not None else 0
        if summary is not None:
            rec["phase_intervals"].append((summary.startTimeMs() / 1000.0, summary.endTimeMs() / 1000.0))
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        rec["nodes"] += 1
        name = node.nodeName()
        if name.startswith("Scan"):
            rec["scan_rows"] += _metric(node, "numOutputRows")
        elif name == "BroadcastExchange":
            rec["broadcast_bytes"] += _metric(node, "dataSize")
        elif "Python" in name or "Pandas" in name:  # MapInPandas, ArrowEvalPython, ...
            rec["python_rows"] += _metric(node, "pythonNumRowsReceived")
            rec["python_ms"] += _metric(node, "pythonTotalTime")
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        else:
            stack.extend(_java_list(spark, node.children()))
        stack.extend(_java_list(spark, node.subqueries()))
    return rec


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the status tracker saw for a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                stages += 1
                tasks += sinfo.numTasks
    return len(jobs), stages, tasks


def read_event_log(event_log_dir: str, app_id: str):
    """Read application ``app_id``'s (uncompressed) event log. Returns the
    per-task metrics folded into the job group that ran each task's stage,
    and every job's ``(submitted, completed)`` interval in epoch seconds."""
    stage_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    jobs: list[tuple[float, float]] = []
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    files = sorted(p for p in glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and app_id in p)
    for path in files:
        with open(path, errors="replace") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = group
                elif '"SparkListenerJobEnd"' in line:
                    ev = json.loads(line)
                    if ev["Job ID"] in job_start:
                        jobs.append((job_start.pop(ev["Job ID"]), ev["Completion Time"] / 1000.0))
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics") or {}
                    if group is None or not tm:
                        continue
                    acc = out[group]
                    acc["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    acc["gc_ms"] += tm.get("JVM GC Time", 0)
                    acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return out, sorted(jobs)


def coverage(window: tuple[float, float], intervals) -> float:
    """Seconds of ``window`` that the union of ``intervals`` covers."""
    w0, w1 = window
    clipped = sorted((max(a, w0), min(b, w1)) for a, b in intervals if b > w0 and a < w1)
    covered, end = 0.0, w0
    for a, b in clipped:
        if b > end:
            covered += b - max(a, end)
            end = b
    return covered
