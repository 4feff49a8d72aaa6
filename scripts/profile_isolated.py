#!/usr/bin/env python
"""Isolated warm profile of named queries — the r16 measurement tool.

The full-registry sweep attributes shared staged builds to whichever
family member forces them first in name-sorted order, so a single sweep
row is NOT a query's own cost (SCALE.md "Sweep-order artifact"), and
the r15 verdict's item 3 showed a query can sit in the sweep for
rounds without ever having had an individual profile. This script
takes one: a fresh JVM, the query alone, warm (min over reps after a
discarded warmup), with the CPU canary stamped so the number can be
compared across machine states, plus the executed-plan shape facts
(scans / exchanges / ReusedExchange / joins / staged reads) the claims
in OPTIMIZATION_r16.md cite, and the JVM heap bytes allocated by the
warmup run and (median) by the timed reps, from
`ThreadMXBean.getTotalThreadAllocatedBytes` over all threads.

Usage:
  python scripts/profile_isolated.py name1,name2 [sf_dir] [reps]
      [--explain-dir=plans/r16] [--suffix=_before]

With --explain-dir each query's `.explain("formatted")` text is written
to <dir>/<name><suffix>.txt (the judge-auditable plan artifact).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from scripts.plan_census import summarize_tree
    from job_market_research_spark.registry import load_all
    from job_market_research_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    names = args[0].split(",")
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    reps = int(args[2]) if len(args) > 2 else 3
    explain_dir = suffix = None
    for a in sys.argv[1:]:
        if a.startswith("--explain-dir="):
            explain_dir = a.split("=", 1)[1]
        if a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]

    specs = load_all()
    spark = get_spark(app_name="profile-isolated")

    def canary() -> float:
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, 32).selectExpr(
            "sum(id % 7) AS s", "count(*) AS n"
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    threads = spark._jvm.java.lang.management.ManagementFactory.getThreadMXBean()

    def run(df) -> tuple[float, int]:
        """Wall seconds and JVM heap bytes allocated (all threads) of
        one execution."""
        a0 = threads.getTotalThreadAllocatedBytes()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, threads.getTotalThreadAllocatedBytes() - a0

    canary()  # codegen warmup
    c0 = min(canary() for _ in range(2))
    for name in names:
        fn = specs[name].fn
        spark.sparkContext.setJobDescription(f"profile:{name}")
        _, warm_alloc = run(fn(spark, sf_dir))  # warmup
        # rebuild per rep (timing gotcha)
        times, allocs = zip(*(run(fn(spark, sf_dir)) for _ in range(reps)))
        df = fn(spark, sf_dir)
        s = summarize_tree(df)
        plan_txt = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        reused = plan_txt.count("ReusedExchange")
        print(
            f"{name}: min {min(times):.3f}s med {sorted(times)[len(times)//2]:.3f}s"
            f" (reps {['%.3f' % t for t in times]})"
            f" | scans {s['scans']} exch {s['exchanges']} reusedExch {reused}"
            f" stg {s['staged']} joins {s['joins']} win {s['windows']}"
            f" | jvm alloc warmup {warm_alloc / 1e6:.0f}MB"
            f" med {sorted(allocs)[len(allocs)//2] / 1e6:.0f}MB"
        )
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            path = os.path.join(explain_dir, f"{name}{suffix or ''}.txt")
            with open(path, "w") as f:
                f.write(plan_txt)
            print(f"  wrote {path}")
    c1 = min(canary() for _ in range(2))
    print(f"canary before {c0:.4f} after {c1:.4f}")
    spark.stop()


if __name__ == "__main__":
    main()
