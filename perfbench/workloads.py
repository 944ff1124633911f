"""Workload mixes: what one pass runs, and the expected answer of each item.

A workload is a fixed set of items at one scale factor. The seed fixes
the item order of every pass and every substituted literal (SQL and
pipeline template parameters, ingest split points, upsert slices); the
program only sees the generated queries. Each item has

* ``build``   -- the driver-side call that returns a DataFrame or handle
                 (registry builder, ``Engine.sql``, ``Engine.pipeline``,
                 or starting a stream),
* ``execute`` -- runs it to a collected result ``(columns, rows)``,
* ``expect``  -- the expected result hash, computed before timing from an
                 independent form (DuckDB oracle SQL, a DuckDB twin of a
                 template, or the batch form of a streaming transform).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq

import verify

OLAP_REGISTRY = [
    "tpch_q1_pricing_summary",
    "tpch_q5_local_volume",
]
CORPUS_REGISTRY = [
    "ext_neardup_lsh_verified",
    "ext_mm_features",
]


@dataclass
class Item:
    name: str
    kind: str  # registry | sql | pipeline | ingest
    build: Callable[[], object]
    execute: Callable[[object], tuple[list[str], list]]
    expect: Callable[[], str]
    input_rows: int = 0  # rows this item ingests (ingest items only)


@dataclass
class Context:
    """Everything items need: the session, the engine, the table
    directory, a scratch directory for this run, and the current pass's
    output directory (set by the runner before each pass)."""

    spark: object
    engine: object
    sf_dir: str
    run_dir: str
    duck: object = None
    pass_dir: str = ""
    probe: object = None  # a tracing.LayerProbe in a traced run
    stream_progress: list = field(default_factory=list)  # recentProgress of each stream run
    written_dirs: list = field(default_factory=list)  # sink output directories

    def call(self, key: str, fn, *args, **kwargs):
        """Call a program function, timed as layer ``key`` in a traced run."""
        if self.probe is None:
            return fn(*args, **kwargs)
        return self.probe.call(key, fn, *args, **kwargs)

    def reset_pass_records(self) -> None:
        self.stream_progress.clear()
        self.written_dirs.clear()


def _collect(df) -> tuple[list[str], list]:
    return df.columns, df.collect()


# --------------------------------------------------------------------------
# registry entries, Engine.sql templates, Engine.pipeline templates
# --------------------------------------------------------------------------

def registry_item(ctx: Context, name: str) -> Item:
    from bigdatacw1_spark.queries import REGISTRY

    spec = REGISTRY[name]
    return Item(name, "registry", lambda: ctx.call("queries.build", spec.fn, ctx.spark, ctx.sf_dir), _collect,
                lambda: verify.duck_hash(ctx.duck, spec.oracle))


def sql_items(ctx: Context, rng: random.Random) -> list[Item]:
    from datagen import PRIORITIES, REGIONS, SEGMENTS

    # Literals are drawn so that every seed asks for about the same amount
    # of work: one calendar year, one region or segment of five (keys are
    # uniform), thresholds near the middle of their ranges.
    y0 = rng.randint(1995, 2000)
    nation_revenue = f"""
        SELECT n.n_name AS nation, YEAR(o.o_orderdate) AS yr, COUNT(*) AS n_lines,
               SUM(CAST(l.l_extendedprice AS DECIMAL(30,2)) * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = '{rng.choice(REGIONS)}'
          AND o.o_orderdate >= DATE '{y0}-01-01' AND o.o_orderdate < DATE '{y0 + 1}-01-01'
        GROUP BY n.n_name, YEAR(o.o_orderdate)"""
    top_customers = f"""
        SELECT c.c_custkey AS custkey, c.c_name AS name, COUNT(*) AS n_orders,
               SUM(CAST(o.o_totalprice AS DECIMAL(30,2))) AS total
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = '{rng.choice(SEGMENTS)}' AND o.o_orderpriority = '{rng.choice(PRIORITIES)}'
        GROUP BY c.c_custkey, c.c_name
        ORDER BY total DESC, custkey
        LIMIT {rng.randint(5, 20)}"""
    # The same text is the DuckDB twin: both dialects accept it as written.
    return [
        Item(f"sql.{name}", "sql", lambda text=text: ctx.engine.sql(text), _collect,
             lambda text=text: verify.duck_hash(ctx.duck, text))
        for name, text in (("nation_revenue", nation_revenue), ("top_customers", top_customers))
    ]


def pipeline_items(ctx: Context, rng: random.Random) -> list[Item]:
    qty = rng.randint(20, 30)
    flags = sorted(rng.sample(["A", "N", "R"], 2))
    stages = [
        {"$match": {"l_quantity": {"$gte": qty}, "l_returnflag": {"$in": flags}}},
        {"$group": {"_id": {"flag": "$l_returnflag", "status": "$l_linestatus"},
                    "qty": {"$sum": "$l_quantity"}, "n": {"$sum": 1}}},
    ]
    twin = f"""SELECT {{'flag': l_returnflag, 'status': l_linestatus}} AS _id,
                      SUM(l_quantity) AS qty, COUNT(*) AS n
               FROM lineitem WHERE l_quantity >= {qty} AND l_returnflag IN ('{flags[0]}', '{flags[1]}')
               GROUP BY l_returnflag, l_linestatus"""
    return [Item("pipeline.flag_quantities", "pipeline", lambda: ctx.engine.pipeline("lineitem", stages),
                 _collect, lambda: verify.duck_hash(ctx.duck, twin))]


# --------------------------------------------------------------------------
# ingest: file-fed streams, partition upserts, read-back through the catalog
# --------------------------------------------------------------------------

def _write_feed(table, out_dir: str, cuts: list[int], mtime0: float) -> list[str]:
    """Split ``table`` at row offsets ``cuts`` into parquet files with
    increasing mtimes, so a file stream takes them in order."""
    os.makedirs(out_dir)
    bounds = [0, *cuts, table.num_rows]
    paths = []
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(a, b - a), path)
        os.utime(path, (mtime0 + i, mtime0 + i))
        paths.append(path)
    return paths


def dir_bytes(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for dp, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dp, n))
    return files, size


def ingest_items(ctx: Context, rng: random.Random) -> tuple[list[Item], int]:
    """The ingest items and the input parquet bytes the stream reads."""
    from pyspark.sql import functions as F

    from bigdatacw1_spark.sources import catalog
    from bigdatacw1_spark.sources.sinks import upsert_partitions
    from bigdatacw1_spark.streaming.windows import run_windowed_stream_to_parquet, tumbling_counts

    spark = ctx.spark
    events = pq.read_table(os.path.join(ctx.sf_dir, "events.parquet"))  # event-time ordered
    feed = os.path.join(ctx.run_dir, "feed")
    n_ev = events.num_rows
    ev_files = _write_feed(events, os.path.join(feed, "events"),
                           [rng.randint(n_ev // 3, 2 * n_ev // 3)], 1.7e9)
    input_bytes = sum(os.path.getsize(p) for p in ev_files)

    # Upsert slices: (day of January 2024, event types). Types the second
    # day shares with the first replace the first day's partitions.
    types = ["click", "error", "purchase", "signup", "view"]
    slices = [(d, sorted(rng.sample(types, rng.randint(2, 4)))) for d in rng.sample(range(1, 29), 2)]
    final = {et: d for d, ets in slices for et in ets}  # partition -> day of its last upsert

    def day_rows(frame, day: int, ets: list[str]):
        start = f"2024-01-{day:02d}"
        return frame.where(
            (F.col("ts") >= F.lit(start).cast("timestamp_ntz"))
            & (F.col("ts") < F.date_add(F.lit(start).cast("date"), 1).cast("timestamp_ntz"))
            & F.col("event_type").isin(ets)
        )

    def lake_summary(frame):
        return frame.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,2)")).alias("sum_v"),
            F.max("event_id").alias("max_id"),
        )

    def duck_day_rows(day: int, ets: list[str]) -> str:
        start = f"TIMESTAMP '2024-01-{day:02d}'"
        types_sql = ", ".join(f"'{et}'" for et in ets)
        return f"(ts >= {start} AND ts < {start} + INTERVAL 1 DAY AND event_type IN ({types_sql}))"

    slice_rows = sum(ctx.duck.sql(f"SELECT COUNT(*) FROM events WHERE {duck_day_rows(d, ets)}").fetchone()[0]
                     for d, ets in slices)

    def out(name: str) -> str:
        return os.path.join(ctx.pass_dir, name)

    def finish_stream(q) -> None:
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(f"stream {q.name} did not finish")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        ctx.stream_progress.append(q.recentProgress)

    def windows_expect() -> str:
        static = spark.read.schema(catalog.TABLES["events"]).parquet(os.path.join(feed, "events"))
        # Emitted windows are those the final watermark (max event time
        # minus the 30-minute delay) has closed: end <= watermark.
        max_ts = static.agg(F.max("ts")).head()[0]
        closed = tumbling_counts(static, minutes=10).where(
            F.col("wstart") + F.expr("INTERVAL 40 MINUTES") <= F.lit(max_ts))
        return verify.spark_hash(closed, closed.collect())

    def windows_run(q):
        finish_stream(q)
        ctx.written_dirs.append(out("windows"))
        return _collect(spark.read.parquet(out("windows")).drop("batch_id"))

    def lake_build():
        frame = catalog.load_table(spark, ctx.sf_dir, "events")
        return [day_rows(frame, d, ets) for d, ets in slices]

    def lake_run(frames):
        root = out("lake")
        for frame in frames:
            ctx.call("sources.sinks.upsert", upsert_partitions,
                     frame, os.path.join(root, "events.parquet"), ["event_type"])
        ctx.written_dirs.append(root)
        return _collect(lake_summary(catalog.load_table(spark, root, "events")))

    def lake_expect() -> str:
        # DuckDB twin: each partition holds the rows of its last upsert.
        kept = " OR ".join(duck_day_rows(d, [et]) for et, d in sorted(final.items()))
        return verify.duck_hash(ctx.duck, f"""
            SELECT event_type, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(30,2))) AS sum_v,
                   MAX(event_id) AS max_id
            FROM events WHERE {kept} GROUP BY event_type""")

    items = [
        Item("ingest.events_stream", "ingest",
             lambda: ctx.call("streaming.run", run_windowed_stream_to_parquet,
                              spark, os.path.join(feed, "events"), out("windows"), minutes=10),
             windows_run, windows_expect, input_rows=n_ev),
        Item("ingest.lake_upsert", "ingest", lake_build, lake_run, lake_expect,
             input_rows=slice_rows),
    ]
    return items, input_bytes


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

# Scale factor of each workload's tables.
WORKLOADS = {"olap": 0.1, "corpus_ingest": 0.01}
# Untimed warm-up passes, then timed passes at least, per run. The JVM
# keeps warming for several passes (pass CPU time falls by a third from
# the second pass to the sixth), so olap times its passes after a second
# warm-up pass. Five timed olap passes put its p90 on the median of five
# samples of tpch_q1, whose single-task scan varies by about 10% from one
# run of the query to the next even back to back. corpus_ingest passes
# are longer, and more of them would not fit the run budget.
WARMUP_PASSES = {"olap": 2, "corpus_ingest": 1}
MIN_PASSES = {"olap": 5, "corpus_ingest": 2}


def build_mix(name: str, ctx: Context, seed: int) -> tuple[list[Item], int]:
    """The workload's items (in canonical order) and its ingest input bytes."""
    rng = random.Random(f"{name}:{seed}")
    if name == "olap":
        items = [registry_item(ctx, n) for n in OLAP_REGISTRY]
        return items + sql_items(ctx, rng) + pipeline_items(ctx, rng), 0
    if name == "corpus_ingest":
        ingest, input_bytes = ingest_items(ctx, rng)
        return ingest + [registry_item(ctx, n) for n in CORPUS_REGISTRY], input_bytes
    raise KeyError(name)


def pass_orders(name: str, seed: int, n_items: int):
    """Endless deterministic sequence of item orders, one per pass."""
    rng = random.Random(f"{name}:{seed}:order")
    while True:
        order = list(range(n_items))
        rng.shuffle(order)
        yield order
