"""Fast, Spark-free tests for the benchmark's own code.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import measure  # noqa: E402


def test_percentile_sample_rule():
    vals = list(range(1, 101))
    assert measure.percentile(vals, 90) == pytest.approx(90.1)
    with pytest.raises(ValueError):
        measure.percentile(vals[:99], 90)  # 9.9 samples beyond p90
    # the median needs no samples beyond it
    assert measure.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert measure.percentile([1.0, 2.0], 50) == 1.5
    with pytest.raises(ValueError):
        measure.percentile([], 50)


def test_geomean():
    assert measure.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert measure.geomean([4.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        measure.geomean([1.0, 0.0])


def test_span_self_time_subtracts_union_of_children():
    t = measure.Tracer()
    q = t.add("query", 0.0, 10.0, "q")
    t.add("a", 1.0, 4.0, "q", parent=q)
    t.add("b", 3.0, 5.0, "q", parent=q)   # overlaps a: union is [1, 5]
    t.add("c", 9.0, 12.0, "q", parent=q)  # clipped to the parent: [9, 10]
    assert t.self_time(q) == pytest.approx(10 - 4 - 1)
    out = t.to_json()
    assert out[1]["self"] == pytest.approx(3.0)
    assert [s["parent"] for s in out] == [None, 0, 0, 0]


def test_covered_handles_disjoint_and_empty_intervals():
    assert measure.covered(0, 10, []) == 0
    assert measure.covered(0, 10, [(1, 2), (5, 7), (6, 8), (3, 3)]) == pytest.approx(4)


def _declared(section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[section]


@pytest.mark.parametrize("section", ["end_to_end", "per_layer"])
def test_declared_metric_names_are_valid(section):
    declared = _declared(section)
    emitted = {m["name"]: {"value": 1.0, "unit": m["unit"]} for m in declared}
    assert measure.check_metrics(declared, emitted) == []
    assert len({m["name"] for m in declared}) == len(declared)


def test_check_metrics_reports_each_problem():
    declared = [{"name": "latency_ms", "unit": "ms"}, {"name": "setup_s", "unit": "s"}]
    emitted = {"latency_ms": {"value": math.nan, "unit": "s"},
               "extra": {"value": 1, "unit": "s"}}
    problems = measure.check_metrics(declared, emitted)
    assert "missing metric setup_s" in problems
    assert "undeclared metric extra" in problems
    assert any("unit 's' != 'ms'" in p for p in problems)
    assert any("not a finite number" in p for p in problems)
    assert measure.check_metrics([{"name": "_bad", "unit": "s"}],
                                 {"_bad": {"value": 1, "unit": "s"}}) == ["bad metric name '_bad'"]


def test_workloads_match_benchmark_json():
    import workload

    names = {w["name"] for w in _declared("workloads")}
    assert names == set(workload.WORKLOADS) | {"stream-window"}


def test_per_layer_metrics_are_emitted_by_every_workload():
    """Each workload fills the layers it does not exercise with zeros, so
    the traced output always carries the whole declared set."""
    import workload

    declared = {m["name"] for m in _declared("per_layer")}
    stream_only = {n for n, _ in workload.STREAM_LAYER}
    batch_only = {n for n, _ in workload.BATCH_LAYER}
    assert stream_only | batch_only <= declared
    assert not stream_only & batch_only


def test_cpu_and_steal_parsers():
    stat = "cpu  100 5 50 800 10 1 2 30 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n"
    assert measure.parse_cpu_line(stat) == (998, 30)
    assert measure.steal_pct((1000, 10), (2000, 60)) == pytest.approx(5.0)
    line = "42 (java (x) y) S 7 42 42 0 -1 0 0 0 0 0 300 200 50 50 20 0 1 0"
    ppid, cpu = measure.parse_stat(line)
    assert ppid == 7
    assert cpu == pytest.approx(600 / os.sysconf("SC_CLK_TCK"))


def test_process_tree_cpu_counts_this_process():
    assert measure.process_tree_cpu_s(os.getpid()) > 0
    assert os.getpid() not in measure.descendants(os.getpid())


def test_expected_window_closed_form():
    rpu, keys = 20, 8
    want = check.expected_window(10, 10, rpu, keys)
    ids = range(10 * rpu, 20 * rpu)
    assert list(want) == [sum(i % 3 + 1 for i in ids if i % keys == k) for k in range(keys)]


def _window_rows(start, rpu, keys):
    sums = check.expected_window(start, 10, rpu, keys)
    return [(start, start + 10, f"key-{k}", int(s)) for k, s in enumerate(sums)]


def test_check_windows_accepts_correct_and_flags_wrong_output():
    rpu, keys = 20, 8
    good = _window_rows(0, rpu, keys) + _window_rows(10, rpu, keys)
    assert check.check_windows(good, 10, rpu, keys) == (2, [])

    wrong_sum = list(good)
    ws, we, k, s = wrong_sum[3]
    wrong_sum[3] = (ws, we, k, s + 1)
    n, errors = check.check_windows(wrong_sum, 10, rpu, keys)
    assert n == 2 and len(errors) == 1 and "1 sums wrong" in errors[0]

    n, errors = check.check_windows(good + good[:1], 10, rpu, keys)
    assert "1 keys missing or repeated" in errors[0]

    n, errors = check.check_windows(_window_rows(10, rpu, keys), 10, rpu, keys)
    assert any("not contiguous" in e for e in errors)


def test_spark_rows_restores_collect_values():
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    schema = StructType([StructField("n", LongType()), StructField("x", DoubleType()),
                         StructField("s", StringType()), StructField("t", TimestampType())])
    pdf = pd.DataFrame({
        "n": [1.0, np.nan],  # pandas widens a nullable bigint to float
        "x": [0.5, np.nan],
        "s": ["a", None],
        "t": pd.to_datetime(["2024-01-02 03:04:05", None]),
    })
    rows = check.spark_rows(pdf, schema)
    assert rows[1] == (None, None, None, None)
    n, x, s, t = rows[0]
    assert (type(n), n, x, s) == (int, 1, 0.5, "a")
    assert type(t).__name__ == "datetime" and t.isoformat() == "2024-01-02T03:04:05"
    assert check.compare(["n", "x", "s", "t"], rows, ["t", "s", "x", "n"],
                         check.duck_rows([(t, "a", 0.5, 1), (None, None, math.nan, None)])) is None
    assert "row count" in check.compare(["n"], [(1,)], ["n"], [])
