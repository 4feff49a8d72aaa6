#!/usr/bin/env python
"""Regenerate PLANS.md: a physical-plan census of every registered
query, so the plan-shape claims in SCALE.md are auditable without
running anything.

For each registry entry the query is BUILT (not executed — streaming
drains and staged sinks that run inside the builder are flagged) at the
smoke scale factor and its executed-plan string is summarized: scans,
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
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
)
_PY_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython")


def _node_depth(line: str) -> int:
    """Depth of a node in Spark's tree drawing = column of the first
    character that isn't tree scaffolding (space/:/+/-)."""
    m = re.search(r"[^ :+\-]", line)
    return m.start() if m else len(line)


#: Per-reprint noise an EXECUTED cached frame's toString carries that a
#: fresh print does not (AQE stamps new ids at every reprint): these
#: must never participate in cached-subtree identity keys, or the same
#: staged build stops deduping once it has run (r12 verdict: graph_hits
#: 14 scans pre-execution -> 1482 post-execution in the same app).
_AQE_REPRINT_NOISE = re.compile(
    r"plan_id=\d+|\*\(\d+\) ?|\w*QueryStage \d+|isFinalPlan=\w+"
)


def split_cached(plan: str) -> tuple[str, list[str]]:
    """Separate a plan-tree string into (outer plan, distinct cached
    subtrees). `toString` reprints every InMemoryRelation's FULL child
    plan at each reference, so counting nodes on the raw text charges a
    staged frame once per consumer — but the cached subtree executes
    ONCE per application (staging.app_staged). Each distinct subtree
    (keyed with expression ids and AQE reprint stamps stripped) is
    returned once so summarize can count its build a single time.

    NOTE: this text parser is only reliable for plans whose cached
    frames have NOT yet executed in this Spark app (the census runs in
    a fresh app, so PLANS.md is safe). Once a frame executes, its
    reprint switches to `== Final Plan == / == Initial Plan ==` dual
    sections at RESET indentation that defeat depth-based subtree
    extraction. Order-independent callers (the lineage-collapse guard)
    must use summarize_tree instead, which walks the real plan tree."""
    subtrees: dict[str, str] = {}

    def strip(text: str) -> str:
        lines = text.splitlines()
        kept: list[str] = []
        i = 0
        while i < len(lines):
            ln = lines[i]
            if "InMemoryRelation" not in ln:
                kept.append(ln)
                i += 1
                continue
            depth = _node_depth(ln)
            j = i + 1
            sub: list[str] = []
            while j < len(lines) and _node_depth(lines[j]) > depth:
                sub.append(lines[j])
                j += 1
            body = "\n".join(sub)
            # reprint sites indent the same subtree differently, so the
            # identity key strips tree scaffolding, expression ids, and
            # AQE reprint stamps
            key = _AQE_REPRINT_NOISE.sub(
                "",
                re.sub(r"#\d+", "", "\n".join(l.lstrip(" :+-") for l in sub)),
            )
            if key not in subtrees:
                subtrees[key] = ""  # claim before recursing (cycles can't
                # occur, but a nested re-print of the same stage can)
                subtrees[key] = strip(body)  # stages built on stages
            i = j
        return "\n".join(kept)

    outer = strip(plan)
    return outer, [s for s in subtrees.values() if s]


#: nodeName prefixes counted as source scans — same seven formats the
#: text census counts via `plan.count("Scan parquet")` etc.
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
    """Order-independent counterpart to summarize(): counts the same
    facts by walking the executed-plan TREE via py4j instead of parsing
    toString() text.

    Why it exists (r12 verdict): toString() reprints every consumed
    cached frame's child plan, and once that frame has EXECUTED in the
    same Spark app the reprint switches to AQE form — `== Final Plan ==
    / == Initial Plan ==` dual sections at reset indentation, plus
    per-reprint `plan_id=N` / `*(N)` codegen / `ShuffleQueryStage N`
    stamps — which defeats text keying and made the lineage-collapse
    guard order-dependent (graph_hits: 14 scans fresh, 1482 after the
    alphabetically-earlier oracle-parity sweep had run it). The tree
    has none of those problems:

    - AdaptiveSparkPlan is descended via initialPlan(), the exact
      subtree the fresh text census prints, identical before and after
      execution (no QueryStage wrappers, no reuse rewrites);
    - each distinct cached build is charged ONCE — keyed by its
      CachedRDDBuilder (shared by every InMemoryRelation referencing
      the same cache entry) — matching its once-per-app execution;
    - counting is by nodeName(), which emits the very tokens the text
      census matches ("Scan parquet", "Exchange", "BroadcastHashJoin").

    Verified count-equal to summarize() for the guarded queries in a
    fresh app (tests/test_plan_hygiene.py asserts the caps derived from
    the text census hold under this counter in both contexts)."""
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
            # not in children() but ARE printed by toString — traverse
            # them so the tree count matches the text census
            # (ann_index_build's partition-pruning subquery reads the
            # staged index and was invisible to a children()-only walk)
            subqueries = node.subqueries()
            for i in range(subqueries.length()):
                stack.append(subqueries.apply(i))
    counts["joins"] = dict(counts["joins"])
    counts["python"] = sorted(counts["python"])
    counts["banned"] = sorted(counts["banned"])
    return counts


def summarize(plan: str) -> dict:
    outer, cached = split_cached(plan)
    # the outer plan plus each distinct cached BUILD counted once —
    # staged references themselves surface as `staged`, INCLUDING
    # stage-on-stage reads inside a cached build (staged_ws_doclen
    # reading staged_ws_tcounts, staged_lpa_labels reading staged_und)
    # so the census's staging graph is complete, not outer-only
    plan = outer + "\n" + "\n".join(cached)
    return {
        "staged": plan.count("InMemoryTableScan"),
        "scans": plan.count("Scan parquet")
        + plan.count("Scan csv")
        + plan.count("Scan orc")
        + plan.count("Scan json")
        + plan.count("Scan text")
        + plan.count("Scan ExistingRDD")
        + plan.count("Scan binaryFile"),
        "exchanges": plan.count("Exchange") - plan.count("ReusedExchange"),
        "joins": {j: plan.count(j) for j in _JOIN_NODES if j in plan},
        "windows": plan.count("Window "),  # trailing space: not WindowGroupLimit
        "wgl": "WindowGroupLimit" in plan,
        "python": [p for p in _PY_NODES if p in plan],
        "banned": [
            b
            for b in ("CartesianProduct", "BatchEvalPython")
            if b in plan
        ],
    }


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
            plan = df._jdf.queryExecution().executedPlan().toString()
            s = summarize(plan)
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
        "references to per-app staged frames (staging.app_staged —",
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
