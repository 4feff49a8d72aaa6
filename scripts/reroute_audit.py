#!/usr/bin/env python
"""Cache-substitution audit: which registered queries' physical plans
change when every per-app staged frame already exists?

Spark's CacheManager replaces any logical subtree canonically equal to
a cached plan with an InMemoryRelation read — including subtrees of
OTHER queries that never asked for staging. PLANS.md is generated in
registry order inside one app, so a query built BEFORE a sibling's
staging call shows its fused plan there; in a different execution
order it could silently reroute.

This audit makes the reroute set explicit: construct every registered
query (registering every staged frame), then walk all 465 plans and
diff each plan's staged-read count against the committed PLANS.md,
counted by the same `plan_census.summarize_tree` that wrote it.
Builder-runs queries (`registry.BUILDER_RUNS`: streaming drains, sink
writes) are constructed like every other, so a staged frame owned by
one of them is registered because the audit watched its builder run.

Standing diff set at sf0.001 (SCALE.md "cache-substitution boundary"):
`agg_event_transitions` 0 -> 2 and `ml_eval_retrieval_ndcg` 0 -> 2,
both adjudicated in tests/test_plan_hygiene.py::ADJUDICATED_REROUTES
by an sf0.1 warm A/B (the substitution is FASTER for both: the cached
frames are exactly their expensive legs). The opposite boundary is the
graph wedge queries, where the substitution forfeits scan->distinct
fusion and measured 1.4-1.7x SLOWER — those stay pinned fused by
tests/test_plan_hygiene.py. Re-run this audit whenever a new staged
frame is added; a new name appearing here must be adjudicated (A/B at
sf0.1) before it is allowlisted.

Run from the repo root: python scripts/reroute_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit(spark, sf: str, root: str) -> list[tuple[str, int, int]]:
    """Single-pass reroute audit. Returns [(name, plans_md_staged_count,
    all-staged count)] for every query whose staged-read count differs
    from the committed PLANS.md row.

    Deterministic in any starting cache state, without an owner list:
    the CONSTRUCT loop builds every query's LOGICAL plan first (in
    sorted order), and staged_frame registers (and persist()s, lazily)
    with the CacheManager at construction time — so by the time the
    WALK loop forces physical planning (where CacheManager.useCachedData
    substitutes canonically-equal subtrees), EVERY staged frame is
    registered."""
    from job_market_research_spark.registry import load_all
    from scripts.plan_census import summarize_tree

    specs = load_all()
    dfs = {}
    for n in sorted(specs):
        try:
            dfs[n] = specs[n].fn(spark, sf)
        except Exception as exc:
            print(f"CONSTRUCT-ERR {n}: {exc!r}"[:140])

    plans: dict[str, int] = {}
    for line in open(os.path.join(root, "PLANS.md")):
        m = re.match(r"\| `(\w+)`\\?\*? \| (\d+|—) \| (\d*) \|", line)
        if m:
            plans[m.group(1)] = int(m.group(3) or 0)

    changed = []
    for name in sorted(dfs):
        try:
            s = summarize_tree(dfs[name])
        except Exception as exc:
            print(f"ERR {name}: {exc!r}"[:120])
            continue
        ref = plans.get(name)
        if ref is not None and s["staged"] != ref:
            changed.append((name, ref, s["staged"]))
    return changed


def main() -> None:
    from job_market_research_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark = get_spark(app_name="reroute-audit", master="local[4]", shuffle_partitions=4)
    changed = audit(spark, sf, root)
    print("=== queries whose staged-read count differs from PLANS.md ===")
    for n, r, c in changed:
        print(f"{n}: plans_md={r} with_all_stages={c}")
    print(f"total changed: {len(changed)}")


if __name__ == "__main__":
    main()
