"""Tests of the benchmark's pure pieces. No Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import sys
import time
from collections import Counter
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import fixtures  # noqa: E402
from spans import cpu_seconds  # noqa: E402
from stats import (  # noqa: E402
    attribute_stages, check_metric_names, median, pass_order, quantile, tail_percentile,
)
from workloads import LAKE_READS, compare_rows, lake_plan  # noqa: E402


@pytest.mark.parametrize("n, pct", [
    (0, 0.0), (19, 0.0), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pct
    if pct:
        assert n * (100 - pct) / 100 >= 10 - 1e-9


def test_quantile_interpolates():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert quantile([0.0, 10.0], 0.9) == pytest.approx(9.0)
    assert quantile([], 0.5) == 0.0


def test_metric_names_are_checked():
    check_metric_names(["op_s.p50", "lake.read_where_s", "op.tpch_q1_pricing_summary.s"])
    for bad in (["op s"], ["a/b"], ["_x"], ["x" * 65], ["dup", "dup"]):
        with pytest.raises(ValueError):
            check_metric_names(bad)


def test_benchmark_json_lists_every_reported_metric():
    from measure import END_TO_END, per_layer_units

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(per_layer_units())
    for m in spec["end_to_end"]:
        assert m["unit"] == END_TO_END[m["name"]]
    for m in spec["per_layer"]:
        assert m["unit"] == per_layer_units()[m["name"]]
    check_metric_names([m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
                       + [w["name"] for w in spec["workloads"]])


def test_stages_are_attributed_by_id_window():
    # op a minted stages 3..5, op b stages 5..8; stage 4 never ran (absent),
    # stage 1 was reused from an earlier op and lies in no window
    stages = {1: {"tasks": 9.0}, 3: {"tasks": 2.0, "task_run_s": 1.0},
              5: {"tasks": 4.0}, 6: {"tasks": 1.0, "task_run_s": 0.5}, 7: {"tasks": 3.0}}
    got = attribute_stages([("a", 3, 5), ("b", 5, 8)], stages)
    assert got == {"a": {"tasks": 2.0, "task_run_s": 1.0}, "b": {"tasks": 8.0, "task_run_s": 0.5}}
    assert attribute_stages([("c", 9, 9)], stages) == {"c": {}}


def test_cpu_seconds_counts_this_process_and_no_jit_without_a_jvm():
    total0, jit0 = cpu_seconds()
    t_end = time.process_time() + 0.3
    while time.process_time() < t_end:
        pass
    total1, jit1 = cpu_seconds()
    assert total1 - total0 >= 0.2
    assert jit0 == jit1 == 0.0


def test_same_seed_same_op_order():
    ops = [f"op{i}" for i in range(12)]
    assert pass_order(ops, 7, 0) == pass_order(ops, 7, 0)
    assert sorted(pass_order(ops, 7, 1)) == sorted(ops)
    assert pass_order(ops, 7, 0) != pass_order(ops, 8, 0)


def test_same_seed_same_lake_plan():
    a, b = lake_plan(7, 30_000), lake_plan(7, 30_000)
    assert a == b
    assert a != lake_plan(8, 30_000)
    kinds = Counter(s.kind for s in a)
    assert (kinds["append"], kinds["update"], kinds["merge_upsert"], kinds["delete"]) == (4, 3, 1, 1)
    assert sum(kinds[r] for r in LAKE_READS) == 9 and all(kinds[r] >= 2 for r in LAKE_READS)
    assert a[0].kind == "create" and [s.kind for s in a[-2:]] == ["optimize", "vacuum"]
    assert all(bool(s.sql) == (s.kind not in LAKE_READS + ("optimize", "vacuum")) for s in a)


def test_same_seed_same_inputs():
    for table in ("lineitem", "documents", "embeddings"):
        assert fixtures.generate_table(table, 0.001, 5).equals(fixtures.generate_table(table, 0.001, 5))
        assert not fixtures.generate_table(table, 0.001, 5).equals(fixtures.generate_table(table, 0.001, 6))


def test_oracle_compare_allows_only_two_decimal_rounding_ties():
    cols = ["k", "v"]
    assert compare_rows(cols, [(1, 1713338.4), (2, 0.5)], ["v", "k"], [(0.5, 2), (1713338.39, 1)]) is None
    assert compare_rows(cols, [(1, 0.123)], cols, [(1, 0.124)]) is not None
    assert compare_rows(cols, [(1, 10.5)], cols, [(1, 10.52)]) is not None
    assert compare_rows(cols, [(1, 1.0)], cols, []) is not None
    assert compare_rows(cols, [(1, 1.0)], ["k", "w"], [(1, 1.0)]) is not None
