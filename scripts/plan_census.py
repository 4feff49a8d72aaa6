#!/usr/bin/env python
"""Regenerate PLANS.md: a physical-plan census of every registered
query, so the plan-shape claims in SCALE.md are auditable without
running anything.

For each registry entry the query is BUILT (not executed — streaming
drains and staged sinks that run inside the builder are flagged) at the
smoke scale factor and its executed-plan tree is summarized: scans,
exchanges, join strategies, window count, WindowGroupLimit pushdown,
and the Python boundary (Arrow-batched only — BatchEvalPython is
banned by tests/test_plan_hygiene.py; this census records the same
facts as data instead of assertions).

At the sf0.001 default it also rewrites FINGERPRINTS.json, one
`registry.plan_fingerprint` per query. A query whose fingerprint
differs from the committed one gets `changed_in` = newest
CORRECTNESS_r* round + 1, which puts it at the head of the driver's
proof window (`registry.evidence_order`) until a newer green driver
row lands; unchanged queries keep their `changed_in`.

Run from the repo root: python scripts/plan_census.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
)

#: nodeName prefixes counted as source scans.
_SCAN_PREFIXES = (
    "Scan parquet",
    "Scan csv",
    "Scan orc",
    "Scan json",
    "Scan text",
    "Scan ExistingRDD",
    "Scan binaryFile",
)


def summarize_tree(df) -> dict:
    """Count a query's plan-shape facts by walking its executed-plan
    TREE via py4j (the toString() text reprints every consumed cached
    frame's child plan, and once that frame has EXECUTED in the same
    Spark app the reprint switches to AQE form with per-reprint stamps,
    so text counts depend on what ran before — r12 verdict: graph_hits
    14 scans fresh, 1482 after the oracle-parity sweep had run it):

    - AdaptiveSparkPlan is descended via initialPlan(), identical
      before and after execution (no QueryStage wrappers, no reuse
      rewrites);
    - each distinct cached build is charged ONCE — keyed by its
      CachedRDDBuilder (shared by every InMemoryRelation referencing
      the same cache entry) — matching its once-per-app execution,
      while every InMemoryTableScan reference counts as `staged`;
    - counting is by nodeName() ("Scan parquet", "Exchange",
      "BroadcastHashJoin"); `joins` is keyed in `_JOIN_NODES` order.

    The same counter serves PLANS.md, the reroute audit, the isolated
    profile and the lineage-collapse guard, so their counts agree in
    any execution order."""
    counts = {
        "staged": 0,
        "scans": 0,
        "exchanges": 0,
        "joins": Counter(),
        "windows": 0,
        "wgl": False,
        "python": set(),
        "banned": set(),
    }
    seen_builds: set[int] = set()
    jvm = df.sparkSession._jvm
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.initialPlan())
            continue
        if name.endswith("QueryStage"):  # defensive: executed wrappers
            stack.append(node.plan())
            continue
        if name == "InMemoryTableScan":
            counts["staged"] += 1
            relation = node.relation()
            # key by JVM object identity: relations of the SAME cache
            # entry share one CachedRDDBuilder instance, while two
            # distinct entries with field-equal builders (hashCode is
            # a case-class field hash) must not merge (ADVICE r13)
            build_key = jvm.System.identityHashCode(relation.cacheBuilder())
            if build_key not in seen_builds:
                seen_builds.add(build_key)
                stack.append(relation.cachedPlan())
            continue
        if name.startswith(_SCAN_PREFIXES):
            counts["scans"] += 1
        elif name in ("Exchange", "BroadcastExchange"):
            counts["exchanges"] += 1
        elif name in _JOIN_NODES:
            counts["joins"][name] += 1
        elif name == "Window":
            counts["windows"] += 1
        elif name == "WindowGroupLimit":
            counts["wgl"] = True
        elif name in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython"):
            counts["python"].add(name)
        elif name in ("CartesianProduct", "BatchEvalPython"):
            counts["banned"].add(name)
        if name != "ReusedExchange":  # leaf reference, child runs elsewhere
            children = node.children()
            for i in range(children.length()):
                stack.append(children.apply(i))
            # expression-embedded plans (DPP / scalar subqueries) are
            # not in children() but do execute — traverse them
            # (ann_index_build's partition-pruning subquery reads the
            # staged index and was invisible to a children()-only walk)
            subqueries = node.subqueries()
            for i in range(subqueries.length()):
                stack.append(subqueries.apply(i))
    counts["joins"] = {j: counts["joins"][j] for j in _JOIN_NODES if counts["joins"][j]}
    counts["python"] = sorted(counts["python"])
    counts["banned"] = sorted(counts["banned"])
    return counts


def write_fingerprints(fps: dict[str, str], errored: list[str]) -> list[str]:
    """Rewrite FINGERPRINTS.json from this census's fingerprints and
    return the names whose fingerprint changed. Queries that failed to
    build keep their committed entry; the first write (no file yet)
    stamps every query `changed_in` 0."""
    from job_market_research_spark.registry import (
        FINGERPRINTS_PATH,
        correctness_rounds,
        load_fingerprints,
    )

    old = load_fingerprints()
    next_round = max((r for r, _ in correctness_rounds()), default=0) + 1
    entries = {n: old[n] for n in errored if n in old}
    for name, fp in fps.items():
        prev = old.get(name)
        if not old:  # bootstrap: nothing to compare against
            changed_in = 0
        elif prev and prev["fp"] == fp:
            changed_in = prev["changed_in"]
        else:
            changed_in = next_round
        entries[name] = {"fp": fp, "changed_in": changed_in}
    body = ",\n".join(
        f" {json.dumps(n)}: {json.dumps(entries[n])}" for n in sorted(entries)
    )
    with open(FINGERPRINTS_PATH, "w") as f:
        f.write("{\n" + body + "\n}\n")
    return sorted(n for n in fps if old and old.get(n, {}).get("fp") != fps[n])


def main() -> None:
    from job_market_research_spark.registry import (
        BUILDER_RUNS,
        FINGERPRINT_SCALE,
        load_all,
        plan_fingerprint,
    )
    from job_market_research_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan-census", master="local[4]", shuffle_partitions=4)
    specs = load_all()
    rows, totals, fps = [], Counter(), {}
    order = sorted(
        specs,
        key=lambda n: (
            specs[n].fn.__module__.replace("job_market_research_spark.", ""),
            n,
        ),
    )
    for name in order:
        try:
            df = specs[name].fn(spark, sf)
            fp = plan_fingerprint(df, specs[name].oracle, sf)
            s = summarize_tree(df)
        except Exception as exc:  # pragma: no cover — census must finish
            rows.append((name, None, f"ERROR: {exc}"))
            continue
        totals["scans"] += s["scans"]
        totals["exchanges"] += s["exchanges"]
        for j, c in s["joins"].items():
            totals[j] += c
        totals["windows"] += s["windows"]
        if s["python"]:
            totals["python_boundary_queries"] += 1
        rows.append((name, s, None))
        fps[name] = fp

    banned = [(n, s["banned"]) for n, s, _ in rows if s and s["banned"]]
    mod_of = {
        n: specs[n].fn.__module__.replace("job_market_research_spark.", "")
        for n in specs
    }
    lines = [
        "# Physical-plan census (generated)",
        "",
        f"Every registered query built at `{sf}` and its EXECUTED plan",
        "summarized — the machine-readable counterpart to SCALE.md's",
        "plan-shape claims. `joins` abbreviations: BHJ BroadcastHashJoin,",
        "SMJ SortMergeJoin, SHJ ShuffledHashJoin, BNLJ",
        "BroadcastNestedLoopJoin (all BNLJ instances are bounded 1-row /",
        "query-set broadcasts — the plan-hygiene suite bans",
        "CartesianProduct outright). `py` = Arrow-batched Python boundary",
        "nodes (row-at-a-time BatchEvalPython is banned). Queries marked",
        "`*` run real work (streaming drain / staged sink) inside the",
        "builder; their row describes the terminal read. `stg` counts",
        "references to per-app staged frames (staging.staged_frame —",
        "InMemoryTableScan); each staged frame's BUILD subtree is",
        "counted once in scans/exch/joins, matching its once-per-app",
        "execution, not once per reprint in the plan text.",
        "",
        f"Totals over {sum(1 for _, s, _ in rows if s)} summarized"
        f" queries ({sum(1 for _, s, _ in rows if not s)} errored):"
        f" {totals['scans']} scans,",
        f"{totals['exchanges']} exchanges, {totals.get('BroadcastHashJoin', 0)} BHJ,",
        f"{totals.get('SortMergeJoin', 0)} SMJ, {totals.get('ShuffledHashJoin', 0)} SHJ,",
        f"{totals.get('BroadcastNestedLoopJoin', 0)} BNLJ, {totals['windows']} window ops,",
        f"{totals['python_boundary_queries']} queries with an Arrow Python boundary,",
        f"{len(banned)} queries with banned nodes (must be 0).",
        "",
        "Regenerate with `python scripts/plan_census.py`.",
        "",
        "| query | scans | stg | exch | joins | win | WGL | py |",
        "|---|---|---|---|---|---|---|---|",
    ]
    abbrev = {
        "BroadcastHashJoin": "BHJ",
        "SortMergeJoin": "SMJ",
        "ShuffledHashJoin": "SHJ",
        "BroadcastNestedLoopJoin": "BNLJ",
    }
    last_mod = None
    for name, s, err in rows:
        mod = mod_of[name]
        if mod != last_mod:
            lines.append(f"| **{mod}** | | | | | | | |")
            last_mod = mod
        star = "\\*" if BUILDER_RUNS.match(name) else ""
        if err:
            # exception text goes into a table cell: pipes/newlines in
            # Spark AnalysisException messages would corrupt the layout
            safe = err.replace("\n", " ").replace("|", "/")[:60]
            lines.append(f"| `{name}`{star} | — | — | — | {safe} | | | |")
            continue
        joins = " ".join(f"{c}{abbrev[j]}" for j, c in s["joins"].items())
        py = ",".join(p.replace("Pandas", "P").replace("Python", "Py") for p in s["python"])
        lines.append(
            f"| `{name}`{star} | {s['scans']} | {s['staged'] or ''} "
            f"| {s['exchanges']} | {joins} "
            f"| {s['windows']} | {'y' if s['wgl'] else ''} | {py} |"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    errored = [(n, e) for n, s, e in rows if e]
    print(
        f"wrote {out}: {len(rows)} queries, {len(banned)} banned-node "
        f"hits, {len(errored)} errored"
    )
    if os.path.basename(os.path.normpath(sf)) == FINGERPRINT_SCALE:
        changed = write_fingerprints(fps, [n for n, _ in errored])
        print(f"wrote FINGERPRINTS.json: {len(changed)} changed {changed}")
    # Both failure classes exit nonzero: a census regenerated with
    # broken queries must not silently publish (ERROR rows used to ride
    # the banned==0 exit path and look like a clean run).
    if banned:
        for n, b in banned:
            print(f"  BANNED {n}: {b}", file=sys.stderr)
    if errored:
        for n, e in errored:
            print(f"  ERROR {n}: {e[:200]}", file=sys.stderr)
    if banned or errored:
        sys.exit(1)


if __name__ == "__main__":
    main()
