"""Unit tests for the benchmark's own aggregation (no Spark needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import aggregate  # noqa: E402


def _pass(kind, wall, traced=False, lat=(), layers=None):
    queries = [{"name": f"q{i}", "ok": True, "build_s": x / 4, "exec_s": 3 * x / 4} for i, x in enumerate(lat)]
    rec = {"kind": kind, "traced": traced, "wall_s": wall, "queries": queries}
    if layers is not None:
        rec["layers"] = layers
    return rec


def _record(passes, failures=(), ops_total=10):
    return {
        "kind": "perfbench-child",
        "setup_s": 9.0,
        "setup_layers": {"session.get_spark_s": 8.0, "registry.load_all_s": 0.5},
        "peak_rss_mb": 1500.0,
        "passes": passes,
        "ops_total": ops_total,
        "failures": list(failures),
    }


def test_warm_pass_is_median_of_untraced_warm_passes():
    rec = _record(
        [
            _pass("cold", 20.0, lat=[5.0]),
            _pass("warm", 3.0, lat=[1.0]),
            _pass("warm", 1.0, lat=[2.0]),
            _pass("warm", 99.0, traced=True, lat=[50.0]),
            _pass("warm", 2.0, lat=[3.0]),
        ]
    )
    e2e = aggregate.end_to_end(rec)
    assert e2e["warm_pass_s"] == 2.0
    assert e2e["cold_pass_s"] == 20.0
    assert set(e2e) == set(aggregate.END_TO_END)
    lat = aggregate.latency_quantiles(rec)
    assert lat == {"samples": 3, "query_p50_s": 2.0, "query_p90_s": None}  # traced and cold excluded


def test_warm_pass_median_of_even_count_averages_the_middle_two():
    rec = _record([_pass("cold", 9.0, lat=[1.0]), _pass("warm", 4.0, lat=[1.0]), _pass("warm", 6.0, lat=[1.0])])
    assert aggregate.end_to_end(rec)["warm_pass_s"] == 5.0


def test_no_warm_pass_is_an_error():
    with pytest.raises(ValueError):
        aggregate.end_to_end(_record([_pass("cold", 9.0, lat=[1.0])]))


def test_p90_needs_ten_samples_beyond_it():
    assert aggregate.percentile([float(i) for i in range(99)], 0.9) is None
    samples = [float(i) for i in range(100)]
    assert aggregate.percentile(samples, 0.9) == 89.0  # 10 samples (90..99) beyond
    assert aggregate.percentile(list(reversed(samples)), 0.9) == 89.0
    assert aggregate.percentile([], 0.5, min_beyond=0) is None


def test_ops_failed_counts_exceptions_and_mismatches():
    failures = [
        {"op": "cold-pass", "query": "a", "error": "boom"},
        {"op": "check", "query": "b", "error": "oracle mismatch (3 vs 4 rows)"},
    ]
    rec = _record([_pass("cold", 1.0, lat=[1.0]), _pass("warm", 1.0, lat=[1.0])], failures, ops_total=30)
    assert aggregate.ops(rec) == (30, 2)
    line = aggregate.result_line(rec, aggregate.end_to_end(rec), aggregate.END_TO_END)
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 30, 2)
    clean = _record(rec["passes"], ops_total=30)
    assert aggregate.result_line(clean, aggregate.end_to_end(clean), aggregate.END_TO_END)["correct"]


def test_result_line_has_exactly_the_contract_keys():
    rec = _record([_pass("cold", 1.0, lat=[1.0]), _pass("warm", 1.0, lat=[1.0])])
    line = aggregate.result_line(rec, aggregate.end_to_end(rec), aggregate.END_TO_END)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"]["peak_rss_mb"] == {"value": 1500.0, "unit": "MB"}
    json.dumps(line)


def test_parse_child_output_skips_noise_around_the_record():
    rec = {"kind": "perfbench-child", "passes": []}
    stdout = "\n".join(["starting", json.dumps(rec), "42", json.dumps({"kind": "other"}), "JVM bye", ""])
    assert aggregate.parse_child_output(stdout) == rec


def test_parse_child_output_without_record_raises():
    with pytest.raises(ValueError):
        aggregate.parse_child_output('log line\n{"kind": "other"}\n[1, 2]\n')


def test_per_layer_reports_cold_and_traced_warm_medians():
    cold = {k: 1 for k in (*aggregate.PASS_LAYERS, *aggregate.DETAIL_LAYERS)}
    cold["staging.builds"] = 12
    warm = lambda b: {**{k: 2 for k in aggregate.PASS_LAYERS}, "staging.builds": b}  # noqa: E731
    rec = _record(
        [
            _pass("cold", 20.0, traced=True, lat=[1.0], layers=cold),
            _pass("warm", 5.0, lat=[1.0]),
            _pass("warm", 6.0, traced=True, lat=[1.0], layers=warm(0)),
            _pass("warm", 7.0, traced=True, lat=[1.0], layers=warm(0)),
        ]
    )
    out = aggregate.per_layer(rec, host_ref_s=0.25)
    details = {f"{k}.{kind}" for kind in ("cold", "warm") for k in aggregate.DETAIL_LAYERS}
    assert set(out) == set(aggregate.PER_LAYER) | details
    assert out["staging.builds.cold"] == 12 and out["staging.builds.warm"] == 0
    assert out["trace.overhead_s"] == pytest.approx(1.5)
    assert out["host.ref_s"] == 0.25
    assert out["ml.exec_s.cold"] == 1 and out["ml.exec_s.warm"] == 0  # absent family reads 0


def test_benchmark_json_lists_the_metrics_the_benchmark_prints():
    path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
    if not os.path.isfile(path):
        pytest.skip("BENCHMARK.json not present")
    with open(path) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == aggregate.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == aggregate.PER_LAYER
