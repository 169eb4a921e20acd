"""Fast checks of the benchmark's definitions (no Spark)."""

import json
import os

import inputs
import metrics
from conftest import ROOT


def test_tail_rule_leaves_ten_samples_beyond():
    assert metrics.tail_percentile(10) is None
    assert metrics.tail_percentile(11) == 9.0
    assert metrics.tail_percentile(20) == 50.0
    assert metrics.tail_percentile(100) == 90.0
    assert metrics.tail_percentile(1000) == 99.0
    for n in range(11, 500):
        p = metrics.tail_percentile(n)
        rank = -(-p * n // 100)  # nearest rank, ceil(p/100 * n)
        assert n - rank >= metrics.TAIL_MIN_BEYOND
        # a tenth of a percentile higher leaves fewer than ten beyond
        higher = -(-(p + 0.1) * n // 100)
        assert n - higher < metrics.TAIL_MIN_BEYOND or p >= 99.9


def test_benchmark_json_mirrors_metric_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in metrics.PER_LAYER
    ]


def test_inputs_are_a_function_of_the_seed():
    assert inputs.documents(7, 300).equals(inputs.documents(7, 300))
    assert not inputs.documents(7, 300).equals(inputs.documents(8, 300))
    assert inputs.audience_session(7, 50) == inputs.audience_session(7, 50)
    steps = inputs.audience_session(7, 2000)
    share = sum(s.repeat_of is not None for s in steps) / len(steps)
    assert abs(share - inputs.REPEAT_SHARE) < 0.03
    assert {s.discover["search_time_filter"] for s in steps} == set(inputs.TIME_FILTERS)
    assert {s.scan["time_filter"] for s in steps} == set(inputs.TIME_FILTERS)
