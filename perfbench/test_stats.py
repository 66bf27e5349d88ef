"""Unit tests of the benchmark's pure parts; no Spark needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def test_canon_rounds_floats_and_nests():
    assert stats.canon(None) == "NULL"
    assert stats.canon(True) == "True"
    assert stats.canon(float("nan")) == "NaN"
    assert stats.canon(1234567.89) == "1.23457e+06"
    assert stats.canon(0.1234567) == "0.123457"
    assert stats.canon(-0.5) == "-0.500000"
    assert stats.canon(7) == "7"
    assert stats.canon([1.0, (2, None)]) == "[1,[2,NULL]]"


def test_digest_ignores_row_and_column_order():
    a = stats.digest(["x", "y"], [{"x": 1, "y": 0.5}, {"x": 2, "y": 1.25}])
    b = stats.digest(["y", "x"], [{"x": 2, "y": 1.25}, {"y": 0.5, "x": 1}])
    assert a == b
    assert a["columns"] == ["x", "y"] and a["rows"] == 2


def test_digest_absorbs_reduction_order_but_not_real_changes():
    base = stats.digest(["s"], [{"s": 0.1 + 0.2}])
    assert stats.digest(["s"], [{"s": 0.3}]) == base
    assert stats.digest(["s"], [{"s": 0.31}]) != base
    assert stats.digest(["s"], [{"s": 0.3}, {"s": 0.3}]) != base
    assert stats.digest(["t"], [{"t": 0.3}]) != base


def test_quartiles_match_statistics_quantiles():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
    q1, q2, q3 = stats.quartiles(values)
    assert [q1, q2, q3] == statistics.quantiles(values, n=4)
    assert stats.median(values) == 5.5
    assert stats.spread(values) == pytest.approx((q3 - q1) / q2)
    assert stats.quartiles([3.0]) == (3.0, 3.0, 3.0)


def test_top_percentile_needs_ten_samples_above():
    assert stats.top_percentile(list(range(10))) is None
    # 20 samples: p50 is rank 10, leaving 10 above; p75 leaves only 5
    assert stats.top_percentile([float(i) for i in range(1, 21)]) == (50.0, 10.0)
    # 1000 samples: p99 is rank 990, leaving 10 above
    assert stats.top_percentile([float(i) for i in range(1, 1001)]) == (99.0, 990.0)
    # 10000 samples support p99.9
    assert stats.top_percentile([float(i) for i in range(1, 10001)])[0] == 99.9


def test_self_time_subtracts_union_of_children():
    span = {"start": 0.0, "end": 10.0}
    assert stats.self_time(span, []) == 10.0
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0}, {"start": 6.0, "end": 7.0}]
    assert stats.self_time(span, kids) == pytest.approx(6.0)
    # children sticking out of the span are clipped to it
    assert stats.self_time(span, [{"start": -5.0, "end": 2.0}, {"start": 9.0, "end": 12.0}]) == pytest.approx(7.0)
    assert stats.self_time(span, [{"start": 11.0, "end": 12.0}]) == 10.0


def test_watermark_attribution():
    # jobs 0-4 ran before the call, 5-7 inside it; 8 started after the
    # closing watermark was read and is not the call's
    ids = [8, 7, 6, 5, 4, 3]
    assert stats.jobs_between(ids, 4, 7) == [5, 6, 7]
    assert stats.jobs_between(ids, 7, 7) == []
    # a call that ran no job before the first one of the application
    assert stats.jobs_between([0, 1], -1, 1) == [0, 1]


def test_fold_progress_splits_bookkeeping_from_add_batch():
    progress = [
        {"numInputRows": 100, "durationMs": {
            "triggerExecution": 900, "addBatch": 500, "walCommit": 40,
            "commitOffsets": 30, "latestOffset": 20, "getBatch": 5,
            "queryPlanning": 100, "setOffsetRange": 1}},
        # an empty batch: bookkeeping only, with phases missing
        {"numInputRows": 0, "durationMs": {"triggerExecution": 700, "latestOffset": 650}},
    ]
    got = stats.fold_progress(progress)
    assert got == {"batches": 2, "input_rows": 100, "trigger_ms": 1600.0,
                   "add_batch_ms": 500.0, "bookkeeping_ms": 845.0}
    assert stats.fold_progress([])["batches"] == 0


def test_benchmark_json_matches_the_metrics_run_reports():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == run.per_layer_names()
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"]), m["name"]
    assert all(math.isfinite(m["bound"]) and 0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_numpy_lloyd_keeps_empty_cluster_and_stops_when_still():
    import numpy as np

    import run

    X = np.array([[0.0, 0.0], [0.0, 1.0], [10.0, 10.0], [10.0, 11.0]])
    init = [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [100.0, 100.0])]
    C, sizes, iters = run.numpy_lloyd(X, init, max_iter=5, tol=0.0)
    assert sizes.tolist() == [2, 2, 0]
    assert C.tolist() == [[0.0, 0.5], [10.0, 10.5], [100.0, 100.0]]
    assert iters == 2  # the second iteration moves nothing
