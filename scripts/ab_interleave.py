#!/usr/bin/env python
"""Interleaved A/B timing harness with within-pair order alternation.

Every staged-vs-fused decision this repo has recorded came from an
interleaved A/B, and each round rewrote the scaffolding ad-hoc. This
is the standard harness, encoding the two measurement rules the r15
session validated the hard way (SCALE.md "Top-25 sweep-row
adjudication closure"):

- ALTERNATE within-pair order: with A always first, B rode JIT/page
  cache warming and read 0.60-0.67x; alternated, the same comparison
  was a wash (min 1.01, median 1.04). Half the pairs run A-first,
  half B-first.
- DISCARD warm-up reps: both variants run once before any timed pair
  (steady-state arrives at rep 2+; a lone "warm" rep after cold is
  still JIT-inflated).

Variants are python callables named "module.path:function", each
taking (spark, sf_dir) and returning a DataFrame whose collect() is
the timed unit — a registered query's fn qualifies, as does any
experiment function in a scratch module. The DataFrame is REBUILT
per measurement (re-collecting one DataFrame reuses shuffle stages
and reads falsely fast — see the verify recipe's timing gotchas).

Usage:
  python scripts/ab_interleave.py \\
      job_market_research_spark.operators.intervals:q_window_concurrency_sweep \\
      my_experiment:staged_variant [sf_dir] [n_pairs]

Summary prints min and median per side plus their ratios, and the
session's defaultParallelism (set by SPARK_GRAFT_CPUS through
session.get_spark); judge warm-claim convention is the MIN (ambient
spikes only ever slow a run down).
"""

from __future__ import annotations

import importlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def resolve(spec: str):
    mod_name, _, fn_name = spec.partition(":")
    if not fn_name:
        raise SystemExit(f"variant {spec!r} must be 'module.path:function'")
    return getattr(importlib.import_module(mod_name), fn_name)


def timed(fn, spark, sf_dir: str) -> float:
    t0 = time.time()
    fn(spark, sf_dir).collect()
    return time.time() - t0


def run(a_spec: str, b_spec: str, sf_dir: str, n_pairs: int) -> None:
    from job_market_research_spark.session import get_spark

    a_fn, b_fn = resolve(a_spec), resolve(b_spec)
    spark = get_spark(app_name="ab-interleave")  # SPARK_GRAFT_CPUS sizes it
    spark.sparkContext.setLogLevel("ERROR")

    timed(a_fn, spark, sf_dir)  # warm-up both sides, untimed
    timed(b_fn, spark, sf_dir)

    ta: list[float] = []
    tb: list[float] = []
    for pair in range(n_pairs):
        if pair % 2 == 0:
            a = timed(a_fn, spark, sf_dir)
            b = timed(b_fn, spark, sf_dir)
        else:
            b = timed(b_fn, spark, sf_dir)
            a = timed(a_fn, spark, sf_dir)
        ta.append(a)
        tb.append(b)
        order = "A-first" if pair % 2 == 0 else "B-first"
        print(f"pair {pair} ({order}): A {a:.3f}s  B {b:.3f}s  B/A {b / a:.2f}")

    sa, sb = sorted(ta), sorted(tb)

    def _median(xs: list[float]) -> float:
        m = len(xs) // 2
        return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2

    ma, mb = _median(sa), _median(sb)
    print(f"min  A {sa[0]:.3f}  B {sb[0]:.3f}  B/A {sb[0] / sa[0]:.2f}")
    print(f"med  A {ma:.3f}  B {mb:.3f}  B/A {mb / ma:.2f}")
    print(f"defaultParallelism {spark.sparkContext.defaultParallelism}")
    spark.stop()


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    n_pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 6
    run(sys.argv[1], sys.argv[2], sf_dir, n_pairs)


if __name__ == "__main__":
    main()
