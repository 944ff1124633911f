#!/usr/bin/env python3
"""End-to-end benchmark of the engine: one command, one workload per run.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Runs from the repository root. A run generates (once, then reuses) the
workload's tables under ``.perfbench/data``, starts ``local[N]`` with
N = min(2, nproc), sets up (session start, view registration), runs
untimed warm-up passes (``workloads.WARMUP_PASSES``), then runs whole
passes of the workload's seeded mix as a closed loop with one client
until ``--seconds`` have elapsed (``workloads.MIN_PASSES`` passes at
least). It then restarts the
SparkContext and sets up again, three times, so ``setup_s`` is a median
of four set-ups. Every result is hashed and compared with an answer
computed before timing. All scratch writes go under
``.perfbench/run-<pid>``, which is removed at the end.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs half the
time untraced and half traced (layer probes, job groups, plan walks, an
uncompressed event log), prints the per-layer metrics and the tracing
overhead, and writes every span to ``.perfbench/trace/``.

The last line of standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SETUPS = 4

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "driver_peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.catalog.register_s": "s",
    "sources.catalog.load_s": "s",
    "sources.catalog.calls": "count",
    "sources.catalog.hit_ratio": "ratio",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "engine.sql_s": "s",
    "pipeline.compile_s": "s",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.scan_rows": "rows",
    "operators.rows_scanned_per_row_returned": "ratio",
    "operators.shuffle_write_bytes": "bytes",
    "operators.broadcast_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.gc_ms": "ms",
    "operators.executor_cpu_ms": "ms",
    "operators.python_rows": "rows",
    "operators.python_ms": "ms",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.state_rows": "rows",
    "sources.sinks.write_s": "s",
    "sources.sinks.files_written": "count",
    "sources.sinks.bytes_written": "bytes",
    "sources.sinks.write_amplification": "ratio",
    "sources.sinks.ingest_rows_per_s": "rows/s",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
    "trace.layer_sum_misses": "count",
}
LAYER_SUM_TOLERANCE = 0.10

sys.path.insert(0, HERE)
import stats  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_metadata(seed: int, cpus: int, cpus_env: str | None) -> dict:
    import pyspark

    def first_line(args: list[str], stream: str) -> str | None:
        try:
            out = subprocess.run(args, capture_output=True, text=True, timeout=30, cwd=ROOT)
        except (OSError, subprocess.SubprocessError):
            return None
        lines = getattr(out, stream).splitlines()
        return lines[0] if out.returncode == 0 and lines else None

    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "local_cpus": cpus,
        "SPARK_GRAFT_CPUS_env": cpus_env,
        "spark": pyspark.__version__,
        "java": first_line(["java", "-version"], "stderr"),
        "python": platform.python_version(),
        "commit": first_line(["git", "rev-parse", "HEAD"], "stdout"),  # None outside a git checkout
    }


def cpu_times() -> tuple[int, int]:
    """(busy + steal, steal) clock ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields) - fields[3] - fields[4], steal


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants: the JVM and its Python workers, live or already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    me = os.getpid()
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += ticks
    return total / tick


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1000.0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Runner:
    def __init__(self, args) -> None:
        self.args = args
        self.traced = bool(args.trace)
        self.run_dir = os.path.join(STATE, f"run-{os.getpid()}")
        self.queries: list[dict] = []  # one record per timed query
        self.passes: list[dict] = []
        self.errors: dict[str, int] = {}
        self.tracer = None
        self.probe = None
        self.trace_extra: dict = {}
        self.phase_s: dict[str, float] = {}  # wall time of each stage of the run
        self.setup_times: dict[str, list[float]] = {"total": [], "start": [], "register": []}
        self.cpus_env = os.environ.get("SPARK_GRAFT_CPUS")  # as the caller set it

    # -- session -----------------------------------------------------------
    def spark_conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')}",
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def set_up(self, sf_dir: str):
        """One timed set-up: start the session, register the views."""
        from bigdatacw1_spark.engine import Engine
        from bigdatacw1_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=self.spark_conf())
        t1 = time.perf_counter()
        engine = Engine(spark, sf_dir)
        t2 = time.perf_counter()
        for key, value in (("total", t2 - t0), ("start", t1 - t0), ("register", t2 - t1)):
            self.setup_times[key].append(value)
        return spark, engine

    # -- one query -----------------------------------------------------------
    def run_item(self, ctx, item, expected, tag: str, traced: bool) -> dict:
        """Build, execute and check one item; a failure is recorded, never raised."""
        sc = ctx.spark.sparkContext
        rec = {"name": item.name, "kind": item.kind, "tag": tag, "ok": False}
        span = self.tracer.span if traced else (lambda *a, **k: contextlib.nullcontext())
        handle = t1 = t2 = w2 = None
        with span("query", item=item.name, tag=tag):
            t0, w0 = time.perf_counter(), time.time()
            try:
                if traced:
                    sc.setJobGroup(tag + ".build", item.name)
                with span("build"):
                    handle = item.build()
                t1 = time.perf_counter()
                if traced:
                    sc.setJobGroup(tag + ".exec", item.name)
                with span("exec"):
                    cols, rows = item.execute(handle)
                t2, w2 = time.perf_counter(), time.time()
                got = verify.result_hash(cols, rows)
                rec.update(ok=got == expected, rows=len(rows))
                if got != expected:
                    rec["error"] = f"result hash {got} != expected {expected}"
            except Exception as e:  # counted under the item's name; the run goes on
                rec["error"] = "".join(traceback.format_exception_only(type(e), e)).strip()[:500]
            t3 = time.perf_counter()
        t1 = t1 or t3
        t2 = t2 or t3
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0, wall_s=t3 - t0,
                   window=(w0, w2 or w0 + t3 - t0))
        if not rec["ok"]:
            self.errors[item.name] = self.errors.get(item.name, 0) + 1
            log(f"perfbench: {item.name} failed: {rec.get('error')}")
        if traced:
            self.trace_query(ctx, rec, handle, tag)
        return rec

    def trace_query(self, ctx, rec: dict, handle, tag: str) -> None:
        from pyspark.sql import DataFrame

        from tracing import job_counts, plan_record

        rec["build_jobs"] = job_counts(ctx.spark, tag + ".build")[0]
        rec["jobs"], rec["stages"], rec["tasks"] = job_counts(ctx.spark, tag + ".exec")
        if isinstance(handle, DataFrame) and rec["ok"]:
            rec["plan"] = plan_record(ctx.spark, handle)

    # -- passes --------------------------------------------------------------
    def run_passes(self, ctx, items, expected, orders, seconds: float, traced: bool, label: str,
                   min_passes: int = 1):
        """Whole passes until ``seconds`` have elapsed and ``min_passes`` ran."""
        t_end = time.perf_counter() + seconds
        for done in itertools.count(1):
            k = len(self.passes)
            ctx.pass_dir = os.path.join(self.run_dir, "out", f"p{k}")
            order = next(orders)
            c0, gc0, t0, machine0 = tree_cpu_s(), jvm_gc_s(ctx.spark), time.perf_counter(), cpu_times()
            if traced:
                self.probe.active = True
            with self.tracer.span("pass", index=k) if traced else contextlib.nullcontext():
                recs = [self.run_item(ctx, items[i], expected[items[i].name], f"p{k}.q{i}", traced)
                        for i in order]
            if traced:
                self.probe.active = False
                ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            wall = time.perf_counter() - t0
            busy, steal = (a - b for a, b in zip(cpu_times(), machine0))
            self.passes.append({"index": k, "label": label, "wall_s": wall, "cpu_s": tree_cpu_s() - c0,
                                "gc_s": jvm_gc_s(ctx.spark) - gc0, "steal_share": steal / busy if busy else 0.0})
            self.queries.extend(dict(r, label=label, pass_index=k) for r in recs)
            if done >= min_passes and time.perf_counter() >= t_end:
                return

    # -- whole run -----------------------------------------------------------
    def run(self) -> dict:
        import datagen

        args = self.args
        sf = workloads.WORKLOADS[args.workload]
        for sub in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.run_dir, sub), exist_ok=True)
        t0 = time.perf_counter()
        sf_dir = datagen.ensure_tables(os.path.join(STATE, "data"), sf)
        self.phase_s["tables"] = time.perf_counter() - t0
        load_before, steal_before = os.getloadavg()[0], cpu_times()
        meta = run_metadata(args.seed, int(os.environ["SPARK_GRAFT_CPUS"]), self.cpus_env)

        if self.traced:
            from tracing import LayerProbe, Tracer

            self.tracer = Tracer()
            self.probe = LayerProbe(self.tracer)
        with self.tracer.span("run", workload=args.workload) if self.traced else contextlib.nullcontext():
            result = self.measure(sf_dir)
        busy, steal = (a - b for a, b in zip(cpu_times(), steal_before))
        meta.update(load1_before=load_before, load1_after=os.getloadavg()[0],
                    cpu_steal_share=round(steal / busy, 4) if busy else 0.0,
                    workload=args.workload, sf=sf,
                    phase_s={k: round(v, 3) for k, v in self.phase_s.items()},
                    pass_s=[round(p["wall_s"], 3) for p in self.passes],
                    pass_cpu_s=[round(p["cpu_s"], 3) for p in self.passes],
                    pass_gc_s=[round(p["gc_s"], 3) for p in self.passes],
                    pass_steal_share=[round(p["steal_share"], 3) for p in self.passes],
                    setup_runs_s=[round(x, 3) for x in self.setup_times["total"]])
        return {"meta": meta, **result}

    def measure(self, sf_dir: str) -> dict:
        """Set up, compute expected answers, warm up, run the timed passes."""
        args = self.args
        phase = self.phase_s
        t0 = time.perf_counter()
        spark, engine = self.set_up(sf_dir)  # launches the JVM
        spark.sparkContext.setLogLevel("ERROR")
        from bigdatacw1_spark.sources.catalog import TABLES

        t1 = time.perf_counter()
        phase["setup"] = t1 - t0
        ctx = workloads.Context(spark, engine, sf_dir, self.run_dir, duck=verify.duck_connect(sf_dir, TABLES),
                                probe=self.probe)
        items, input_bytes = workloads.build_mix(args.workload, ctx, args.seed)
        expected = {}
        for item in items:
            try:
                t = time.perf_counter()
                expected[item.name] = item.expect()
                log(f"perfbench: expected answer of {item.name} in {time.perf_counter() - t:.2f}s")
            except Exception as e:  # counted as a failure of every run of the item
                expected[item.name] = None
                log(f"perfbench: no expected answer for {item.name}: {e!r}")
        ctx.duck.close()
        orders = workloads.pass_orders(args.workload, args.seed, len(items))

        t2 = time.perf_counter()
        phase["expect"] = t2 - t1
        self.run_passes(ctx, items, expected, orders, 0, False, "warmup",
                        min_passes=workloads.WARMUP_PASSES[args.workload])
        t3 = time.perf_counter()
        phase["warmup"] = t3 - t2
        ctx.reset_pass_records()

        if self.traced:
            self.run_passes(ctx, items, expected, orders, args.seconds / 2, False, "untraced")
            ctx.reset_pass_records()
            self.probe.install()
            try:
                self.run_passes(ctx, items, expected, orders, args.seconds / 2, True, "traced")
            finally:
                self.probe.uninstall()
        else:
            self.run_passes(ctx, items, expected, orders, args.seconds, False, "timed",
                            min_passes=workloads.MIN_PASSES[args.workload])

        t4 = time.perf_counter()
        phase["timed"] = t4 - t3
        rss_mb = jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        app_id = spark.sparkContext.applicationId
        # The other set-ups restart the SparkContext in the JVM the run
        # has warmed, so their median measures the program's set-up work
        # rather than JVM launch and class loading. Each starts from a
        # collected heap, as a fresh process would, so no set-up pays for
        # collecting the garbage of the passes before it.
        from pyspark import SparkContext

        for _ in range(SETUPS - 1):
            spark.stop()
            SparkContext._jvm.java.lang.System.gc()
            spark, _engine = self.set_up(sf_dir)
        spark.stop()
        phase["resetup"] = time.perf_counter() - t4

        timed = [q for q in self.queries if q["label"] in ("timed", "untraced", "traced")]
        if self.traced:
            metrics = self.layer_metrics(ctx, items, input_bytes, app_id)
        else:
            metrics = self.end_to_end("timed", rss_mb)
        return {"attempted": len(timed), "failed": sum(1 for q in timed if not q["ok"]), "metrics": metrics}

    # -- metrics -------------------------------------------------------------
    def end_to_end(self, label: str, rss_mb: float) -> dict:
        lat = [q["latency_s"] for q in self.queries if q["label"] == label]
        passes = [p for p in self.passes if p["label"] == label]
        by_item: dict[str, list[float]] = {}
        for q in self.queries:
            if q["label"] == label:
                by_item.setdefault(q["name"], []).append(q["latency_s"])
        log("perfbench: latency by item (median; all, in run order): " + ", ".join(
            f"{n} {statistics.median(v):.3f}s ({' '.join(f'{x:.2f}' for x in v)})"
            for n, v in sorted(by_item.items())))
        tail = stats.tail_percentile(lat)
        log(f"perfbench: latency samples n={len(lat)}, {stats.samples_beyond(lat, 90)} beyond p90; "
            f"rule tail percentile (>=10 beyond): {tail}")
        return {
            "setup_s": statistics.median(self.setup_times["total"]),
            "pass_s": statistics.median(p["wall_s"] for p in passes),
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": stats.nearest_rank(lat, 90),
            "driver_peak_rss_mb": rss_mb,
        }

    def layer_metrics(self, ctx, items, input_bytes: int, app_id: str) -> dict:
        from tracing import coverage, read_event_log

        c = self.tracer.counters
        traced = [q for q in self.queries if q["label"] == "traced"]
        n_pass = sum(1 for p in self.passes if p["label"] == "traced")
        untraced_pass = statistics.median(p["wall_s"] for p in self.passes if p["label"] == "untraced")
        traced_pass = statistics.median(p["wall_s"] for p in self.passes if p["label"] == "traced")
        frames = [q for q in traced if q["kind"] != "ingest"]
        registry = [q for q in traced if q["kind"] == "registry"]
        ingest = [q for q in traced if q["kind"] == "ingest"]
        plans = [q["plan"] for q in frames if "plan" in q]

        by_group, job_intervals = read_event_log(os.path.join(self.run_dir, "eventlog"), app_id)
        task = {k: sum(by_group.get(q["tag"] + ".exec", {}).get(k, 0.0) for q in frames)
                for k in ("shuffle_write_bytes", "spill_bytes", "gc_ms", "executor_cpu_ms")}

        progress = [p for stream in ctx.stream_progress for p in stream]
        last = [stream[-1] for stream in ctx.stream_progress if stream]
        files = size = 0
        for d in ctx.written_dirs:
            f, s = workloads.dir_bytes(d)
            files, size = files + f, size + s
        ingest_rows = sum(next(i.input_rows for i in items if i.name == q["name"]) for q in ingest)
        ingest_time = sum(q["latency_s"] for q in ingest)

        # Layer sum: how much of each query's wall time (build plus collect)
        # the independently measured layer intervals account for -- the
        # probed program calls, the Catalyst phases, and the jobs the event
        # log records in the query's window (one client, so every job in it
        # is the query's) -- counting overlaps once.
        misses, unattributed = [], 0.0
        for q in traced:
            sources = {
                "layers": [(a, b) for _, a, b in self.probe.intervals],
                "plans": q.get("plan", {}).get("phase_intervals", []),
                "jobs": job_intervals,
            }
            wall = q["window"][1] - q["window"][0]
            q["covered_s"] = {k: coverage(q["window"], v) for k, v in sources.items()}
            q["layer_sum_s"] = coverage(q["window"], [iv for v in sources.values() for iv in v])
            unattributed += wall - q["layer_sum_s"]
            if wall - q["layer_sum_s"] > LAYER_SUM_TOLERANCE * wall:
                misses.append(q["name"])
        if misses:
            log("perfbench: layers account for less than 90% of the wall time of: "
                + ", ".join(f"{n} x{misses.count(n)}" for n in sorted(set(misses))))
        loads = c.get("sources.catalog.load.calls", 0.0)
        scan_rows = sum(p["scan_rows"] for p in plans)
        rows_out = sum(q.get("rows", 0) for q in frames if "plan" in q)

        per = lambda v: v / n_pass  # noqa: E731  (per traced pass)
        self.trace_extra = {"queries": traced, "event_log_groups": len(by_group)}
        return {
            "session.start_s": statistics.median(self.setup_times["start"]),
            "sources.catalog.register_s": statistics.median(self.setup_times["register"]),
            "sources.catalog.load_s": per(c.get("sources.catalog.load_s", 0.0)),
            "sources.catalog.calls": per(loads),
            "sources.catalog.hit_ratio": (1 - c.get("sources.catalog.miss.calls", 0.0) / loads) if loads else 0.0,
            "queries.build_s": per(c.get("queries.build_s", 0.0)),
            "queries.build_jobs": per(sum(q.get("build_jobs", 0) for q in registry)),
            "engine.sql_s": per(c.get("engine.sql_s", 0.0)),
            "pipeline.compile_s": per(c.get("pipeline.compile_s", 0.0)),
            "plans.analysis_ms": per(sum(p["analysis_ms"] for p in plans)),
            "plans.optimization_ms": per(sum(p["optimization_ms"] for p in plans)),
            "plans.planning_ms": per(sum(p["planning_ms"] for p in plans)),
            "operators.exec_s": per(sum(q["exec_s"] for q in frames)),
            "operators.jobs": per(sum(q.get("jobs", 0) for q in frames)),
            "operators.stages": per(sum(q.get("stages", 0) for q in frames)),
            "operators.tasks": per(sum(q.get("tasks", 0) for q in frames)),
            "operators.scan_rows": per(scan_rows),
            "operators.rows_scanned_per_row_returned": scan_rows / rows_out if rows_out else 0.0,
            "operators.shuffle_write_bytes": per(task["shuffle_write_bytes"]),
            "operators.broadcast_bytes": per(sum(p["broadcast_bytes"] for p in plans)),
            "operators.spill_bytes": per(task["spill_bytes"]),
            "operators.gc_ms": per(task["gc_ms"]),
            "operators.executor_cpu_ms": per(task["executor_cpu_ms"]),
            "operators.python_rows": per(sum(p["python_rows"] for p in plans)),
            "operators.python_ms": per(sum(p["python_ms"] for p in plans)),
            "streaming.batches": per(len(progress)),
            "streaming.trigger_ms": per(sum(p["durationMs"].get("triggerExecution", 0) for p in progress)),
            "streaming.state_rows": per(sum(op.get("numRowsTotal", 0)
                                            for p in last for op in p.get("stateOperators", []))),
            "sources.sinks.write_s": per(sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000.0
                                         + c.get("sources.sinks.upsert_s", 0.0)),
            "sources.sinks.files_written": per(files),
            "sources.sinks.bytes_written": per(size),
            "sources.sinks.write_amplification": per(size) / input_bytes if input_bytes else 0.0,
            "sources.sinks.ingest_rows_per_s": ingest_rows / ingest_time if ingest_time else 0.0,
            "trace.overhead_s": traced_pass - untraced_pass,
            "trace.unattributed_s": per(unattributed),
            "trace.layer_sum_misses": len(misses),
        }

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


def prepare_environment(cpus: int, run_dir: str) -> None:
    """Environment the session and its Python workers inherit."""
    paths = [ROOT, HERE]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)  # workers import the program by name
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Two shuffle partitions per core, the sizing session.py recommends; the
    # engine's default of 32 is meant for the 32-core bench host.
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(2 * cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def git_dirty_paths() -> list[str]:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return []
    out = subprocess.run(["git", "status", "--porcelain"], capture_output=True, text=True, cwd=ROOT)
    return out.stdout.splitlines()


def shutdown_jvm() -> None:
    """Stop the JVM the session launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    # Turn a termination request into SystemExit so the finally below
    # still stops the JVM and removes the run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "bigdatacw1_spark")):
        log(f"perfbench: the engine package bigdatacw1_spark is not under {ROOT}")
        return 2
    dirty_before = set(git_dirty_paths())
    cpus = max(1, min(2, os.cpu_count() or 1))
    runner = Runner(args)
    prepare_environment(cpus, runner.run_dir)
    try:
        result = runner.run()
    finally:
        shutdown_jvm()
        if runner.tracer is not None:
            runner.tracer.dump(
                os.path.join(STATE, "trace", f"{args.workload}-seed{args.seed}.json"),
                {"passes": runner.passes, **runner.trace_extra})
        runner.cleanup()

    names = PER_LAYER if runner.traced else END_TO_END
    metrics = {k: {"value": float(v), "unit": names[k]} for k, v in result["metrics"].items()}
    line = {"correct": result["failed"] == 0, "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}
    stats.check_result_line(line, list(names), names)

    new_dirty = sorted(set(git_dirty_paths()) - dirty_before)
    if new_dirty:
        log(f"perfbench: the run left changes in the work tree: {new_dirty}")
    print("# meta " + json.dumps(result["meta"], sort_keys=True))
    print("# errors " + json.dumps(runner.errors, sort_keys=True))
    print(f"# error_rate {result['failed'] / result['attempted']:.4f} ratio "
          f"({result['failed']} of {result['attempted']} queries)")
    for k, m in metrics.items():
        print(f"# {k} {m['value']:.6g} {m['unit']}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
