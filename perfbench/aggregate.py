"""Pure aggregation of child run records into the benchmark's metrics.

Nothing here starts Spark; `tests/test_aggregate.py` covers it.
"""

from __future__ import annotations

import json
import math
import statistics

FAMILIES = ("plans", "operators", "functions", "sources", "ml")

#: End-to-end metrics, reported by every untraced run: name -> unit.
#: Per-query latency quantiles are printed for the interactive workload
#: only (`latency_quantiles`); on the batch workloads a quantile over a
#: handful of different queries jumps between queries from run to run.
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "peak_rss_mb": "MB",
}

#: Per-layer counters of one traced pass: name -> unit. Each is reported
#: for the cold pass and for the traced warm passes (median).
PASS_LAYERS = {
    "io.load_misses": "count",
    "staging.builds": "count",
    "staging.cached_mb": "MB",
    "query.build_s": "s",
    "query.build_jobs": "count",
    "query.exec_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.executor_run_s": "s",
    "functions.python_rows": "count",
    "sources.bytes_written_mb": "MB",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
}

#: Counters a traced run prints and records but does not report as
#: metrics: on a workload without the query family (or without Python
#: workers, or spilling) they read 0 on every run. `query.*` above is
#: their sum over the families.
DETAIL_LAYERS = {
    **{
        f"{fam}.{what}": unit
        for fam in FAMILIES
        for what, unit in (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"))
    },
    "functions.python_s": "s",
    "spark.spill_mb": "MB",
}

#: Per-layer metrics of a traced run: name -> unit.
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "host.ref_s": "s",
    "trace.overhead_s": "s",
    **{f"{k}.{kind}": u for kind in ("cold", "warm") for k, u in PASS_LAYERS.items()},
}


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def percentile(values: list[float], q: float, min_beyond: int = 10) -> float | None:
    """Nearest-rank `q` quantile of `values`, or None unless at least
    `min_beyond` samples lie beyond it."""
    n = len(values)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def ops(record: dict) -> tuple[int, int]:
    """(attempted, failed): every query execution and oracle check the
    run made, and those that raised or mismatched their oracle."""
    return record["ops_total"], len(record["failures"])


def parse_child_output(stdout: str) -> dict:
    """The child's run record: the last stdout line that parses as a
    JSON object of kind "perfbench-child". Lines after it (JVM shutdown
    chatter) and before it are ignored."""
    for line in reversed(stdout.strip().splitlines()):
        try:
            parsed = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(parsed, dict) and parsed.get("kind") == "perfbench-child":
            return parsed
    raise ValueError("no run record in the child's output")


def _warm(record: dict, traced: bool) -> list[dict]:
    return [p for p in record["passes"] if p["kind"] == "warm" and p["traced"] == traced]


def warm_latencies(record: dict) -> list[float]:
    """Per-query latencies (plan build + execute) of the untraced warm
    passes."""
    return [
        q["build_s"] + q["exec_s"]
        for p in _warm(record, traced=False)
        for q in p["queries"]
        if q["ok"]
    ]


def end_to_end(record: dict) -> dict[str, float]:
    cold = next(p for p in record["passes"] if p["kind"] == "cold")
    return {
        "setup_s": record["setup_s"],
        "cold_pass_s": cold["wall_s"],
        "warm_pass_s": median([p["wall_s"] for p in _warm(record, traced=False)]),
        "peak_rss_mb": record["peak_rss_mb"],
    }


def latency_quantiles(record: dict) -> dict:
    """p50 and p90 of the untraced warm per-query latencies, with the
    sample count; p90 is None unless ten samples lie beyond it."""
    lat = warm_latencies(record)
    return {"samples": len(lat), "query_p50_s": median(lat), "query_p90_s": percentile(lat, 0.9)}


def per_layer(record: dict, host_ref_s: float) -> dict[str, float]:
    """Every `PER_LAYER` metric, plus the `DETAIL_LAYERS` counters as
    `<name>.cold` and `<name>.warm`."""
    cold = next(p for p in record["passes"] if p["kind"] == "cold")
    traced = _warm(record, traced=True)
    untraced = _warm(record, traced=False)
    out = {
        **record["setup_layers"],
        "host.ref_s": host_ref_s,
        "trace.overhead_s": median([p["wall_s"] for p in traced])
        - median([p["wall_s"] for p in untraced]),
    }
    for k in (*PASS_LAYERS, *DETAIL_LAYERS):
        out[f"{k}.cold"] = cold["layers"].get(k, 0)
        out[f"{k}.warm"] = median([p["layers"].get(k, 0) for p in traced])
    return out


def result_line(record: dict, metrics: dict[str, float], units: dict[str, str]) -> dict:
    """The benchmark's last output line."""
    attempted, failed = ops(record)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
