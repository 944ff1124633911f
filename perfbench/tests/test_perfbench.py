"""Fast checks of the benchmark itself; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import json
import os
import random
import sys
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402


# -- percentiles -------------------------------------------------------------

def test_nearest_rank_is_exact_at_whole_percentiles():
    values = list(range(1, 101))
    assert stats.nearest_rank(values, 90) == 90  # 0.9 * 100 is not 90.0 in floats
    assert stats.nearest_rank(values, 50) == 50
    assert stats.nearest_rank([3.0], 90) == 3.0


def test_tail_percentile_keeps_ten_samples_beyond():
    for n in (11, 20, 37, 100, 250):
        values = [float(i) for i in range(n)]
        pct, value, count = stats.tail_percentile(values)
        assert count == n
        assert stats.samples_beyond(values, pct) >= 10
        # the next whole percentile would leave fewer than ten beyond
        assert pct == 99 or stats.samples_beyond(values, pct + 1) < 10
        assert value == stats.nearest_rank(values, pct)
    assert stats.tail_percentile([float(i) for i in range(100)])[0] == 90
    assert stats.tail_percentile([1.0] * 10) is None


# -- seeds -------------------------------------------------------------------

class _Recorder:
    def sql(self, text):
        return text

    def pipeline(self, table, stages):
        return json.dumps([table, stages], sort_keys=True)


def _generated(workload: str, seed: int) -> list[str]:
    ctx = workloads.Context(spark=None, engine=_Recorder(), sf_dir="", run_dir="")
    rng = random.Random(f"{workload}:{seed}")
    items = workloads.sql_items(ctx, rng) + workloads.pipeline_items(ctx, rng)
    return [item.build() for item in items]


def test_same_seed_same_queries_and_order():
    assert _generated("olap", 7) == _generated("olap", 7)
    a, b = workloads.pass_orders("olap", 7, 9), workloads.pass_orders("olap", 7, 9)
    assert [next(a) for _ in range(5)] == [next(b) for _ in range(5)]


def test_different_seed_different_literals():
    assert _generated("olap", 7) != _generated("olap", 8)
    a, b = workloads.pass_orders("olap", 7, 9), workloads.pass_orders("olap", 8, 9)
    assert [next(a) for _ in range(5)] != [next(b) for _ in range(5)]


def test_tables_are_deterministic_and_match_the_catalog():
    from bigdatacw1_spark.sources.catalog import TABLES

    one, two = datagen.generate_tables(0.001), datagen.generate_tables(0.001)
    assert set(one) == set(TABLES)
    for name, table in one.items():
        assert table.equals(two[name]), name
        assert list(table.columns) == [f.name for f in TABLES[name].fields], name


def test_tables_have_the_test_data_shape():
    tables = datagen.generate_tables(0.001)
    assert {k: len(v) for k, v in tables.items()} == {
        "region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}
    # events.ts is built at nanosecond resolution and written as microseconds
    assert str(tables["events"]["ts"].dtype) == "datetime64[ns]"
    assert tables["events"]["ts"].is_monotonic_increasing


def test_workloads_run_at_test_data_scale_factors():
    assert set(workloads.WORKLOADS.values()) <= {0.001, 0.01, 0.1}


# -- metric names and the result line --------------------------------------

def test_metric_names_and_units():
    for names in (run.END_TO_END, run.PER_LAYER):
        for name, unit in names.items():
            assert stats.METRIC_NAME.fullmatch(name), name
            assert len(unit) <= 16 and unit


def test_benchmark_json_lists_the_same_metrics():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("BENCHMARK.json is not next to the benchmark")
    with open(path) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert spec["command"][-1] == "perfbench/run.py"


def _line(**metrics):
    return {"correct": True, "attempted": 3, "failed": 0,
            "metrics": {k: {"value": v, "unit": run.END_TO_END[k]} for k, v in metrics.items()}}


def test_result_line_schema():
    good = dict.fromkeys(run.END_TO_END, 1.5)
    stats.check_result_line(_line(**good), list(run.END_TO_END), run.END_TO_END)
    with pytest.raises(ValueError):
        stats.check_result_line(_line(**dict(good, pass_s=float("nan"))), list(run.END_TO_END), run.END_TO_END)
    missing = dict(good)
    del missing["setup_s"]
    with pytest.raises(ValueError):
        stats.check_result_line(_line(**missing), list(run.END_TO_END), run.END_TO_END)
    bad = _line(**good)
    bad["attempted"] = 0
    with pytest.raises(ValueError):
        stats.check_result_line(bad, list(run.END_TO_END), run.END_TO_END)


# -- result hashing ---------------------------------------------------------

def test_result_hash_ignores_row_and_column_order():
    a = verify.result_hash(["B", "a"], [(1, "x"), (2, "y")])
    b = verify.result_hash(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b
    assert a != verify.result_hash(["a", "b"], [("y", 2), ("x", 3)])


def test_result_hash_normalizes_engine_value_types():
    from pyspark.sql import Row

    ts = datetime.datetime(2024, 1, 1, 0, 10)
    spark_side = verify.result_hash(["s", "d", "t"], [(Row(flag="A", n=1), Decimal("1.50"), ts)])
    duck_side = verify.result_hash(["s", "d", "t"], [({"n": 1, "flag": "A"}, Decimal("1.5"), ts)])
    assert spark_side == duck_side


def test_result_hash_keeps_every_decimal_digit_and_absorbs_float_drift():
    charge = Decimal("8812345678.123456")
    assert verify.result_hash(["x"], [(charge,)]) != verify.result_hash(["x"], [(charge + Decimal("1e-6"),)])
    assert verify.result_hash(["x"], [(Decimal("100.00"),)]) == verify.result_hash(["x"], [(Decimal("1E+2"),)])
    assert verify.result_hash(["x"], [(0.1 + 0.2,)]) == verify.result_hash(["x"], [(0.3,)])


def test_coverage_counts_overlaps_once_and_clips_to_the_window():
    from tracing import coverage

    assert coverage((0.0, 10.0), []) == 0.0
    assert coverage((0.0, 10.0), [(1.0, 4.0), (2.0, 5.0), (8.0, 12.0), (-3.0, 0.5)]) == 6.5
    assert coverage((0.0, 10.0), [(0.0, 10.0), (3.0, 4.0)]) == 10.0
