#!/usr/bin/env python
"""Cache-substitution audit: which registered queries' physical plans
change when every per-app staged frame already exists?

Spark's CacheManager replaces any logical subtree canonically equal to
a cached plan with an InMemoryRelation read — including subtrees of
OTHER queries that never asked for staging (the hazard ADVICE r12
flagged for the round-12 staged frames). PLANS.md is generated in
registry order inside one app, so a query built BEFORE a sibling's
staging call shows its fused plan there; in a different execution
order it could silently reroute.

This audit makes the reroute set explicit: construct every staged
frame first (by building the owner queries), then build all 465 plans
and diff each plan's staged-read count against the committed PLANS.md.

r13 result (recorded in SCALE.md "cache-substitution boundary"):
exactly 3 queries changed —

  dedup_bridge_conflict   0 -> 1  (rides the dedup bridge-pairs cache)
  ml_eval_retrieval_ndcg  0 -> 2  (rides the ANN normalized-embedding
                                   cache, staged r12 commit d4d09f5)
  ann_index_build         2 -> 1  (its partitioned index read collapses
                                   onto the shared normalized table)

r14: the PLANS.md regenerated at c22ead8 already records
ann_index_build's collapsed read, so the standing diff set is the
first two names only; all three stay adjudicated in the pytest
allowlist (tests/test_plan_hygiene.py::test_staged_frames_do_not_
silently_reroute_fused_queries, which runs this audit in the suite
session so a new staged frame cannot land without re-adjudication).

A/B at sf0.1 (min-of-3, same app, warm cache): rerouted/fused =
0.82x for dedup_bridge_conflict, 0.87x for ml_eval_retrieval_ndcg —
the substitution is FASTER for both (the cached frames are exactly
their expensive legs), so no distinguishing marker is needed. This is
the opposite boundary from the wedge queries (graph triangle/link
prediction), where the substitution forfeits scan->distinct fusion
and measured 1.4-1.7x SLOWER — those stay pinned fused by
tests/test_plan_hygiene.py. Re-run this audit whenever a new staged
frame is added; a new name appearing here must be adjudicated (A/B at
sf0.1) before the round's gate record.

Run from the repo root: python scripts/reroute_audit.py [sf_dir]
"""

from __future__ import annotations

import importlib.util
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from job_market_research_spark.registry import BUILDER_RUNS  # noqa: E402


#: Whole-module mention pattern for the staging API (including aliased
#: imports like `_app_staged`) — deliberately broader than call sites.
STAGING_RE = r"\b_?(app_staged|staged_frame)\b"

#: The package whose import graph the helper-module guard walks.
PKG = "job_market_research_spark"


def _package_import_graph(pkg_name: str = PKG):
    """Static (AST) import graph over the package's own modules.
    Returns (files: dotted -> path, edges: dotted -> set[dotted]).
    Catches `import pkg.x`, `from pkg.x import y` (including the case
    where y is itself a submodule), and relative imports — imports
    inside function bodies included (ast.walk sees them; a
    sys.modules-based scan would not)."""
    import ast
    import importlib.util

    spec = importlib.util.find_spec(pkg_name)
    pkg_dir = os.path.dirname(spec.origin)
    files: dict[str, str] = {}
    is_pkg: dict[str, bool] = {}
    for dirpath, _dirs, names in os.walk(pkg_dir):
        for f in names:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, pkg_dir)
            dotted = pkg_name + "." + rel[:-3].replace(os.sep, ".")
            if dotted.endswith(".__init__"):
                dotted = dotted[: -len(".__init__")]
            files[dotted] = path
            is_pkg[dotted] = f == "__init__.py"
    edges: dict[str, set[str]] = {}
    for dotted, path in files.items():
        out: set[str] = set()
        for node in ast.walk(ast.parse(open(path).read())):
            if isinstance(node, ast.Import):
                cands = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    # Relative-import base: for a PACKAGE's own
                    # __init__.py the dotted name already names the
                    # package, so level 1 drops zero segments — a
                    # plain module drops one (ADVICE r15: the old
                    # form silently dropped `from . import x` edges
                    # written inside __init__.py files).
                    parts = dotted.split(".")
                    drop = node.level - (1 if is_pkg[dotted] else 0)
                    base = ".".join(parts[: len(parts) - drop])
                    mod = f"{base}.{node.module}" if node.module else base
                else:
                    mod = node.module or ""
                cands = [mod] + [f"{mod}.{a.name}" for a in node.names]
            else:
                continue
            out.update(c for c in cands if c in files)
        edges[dotted] = out
    return files, edges


def _closure(seeds: set, edges: dict) -> set:
    seen, frontier = set(seeds), list(seeds)
    while frontier:
        for n in edges.get(frontier.pop(), ()):
            if n not in seen:
                seen.add(n)
                frontier.append(n)
    return seen


def staging_reachable_only_from_skipped(
    skipped_mods: set, nonskipped_mods: set, edges: dict, mentions: set
) -> set:
    """Pure core of the helper-module guard (unit-tested directly):
    modules that mention the staging API, are import-reachable from a
    BUILDER_RUNS query's defining module, and are NOT reachable from any
    non-skipped query's module. A staged frame in a SHARED helper is
    registered by its non-skipped consumers during the CONSTRUCT pass,
    so shared helpers are excused; a helper reachable exclusively from
    skipped queries can only ever be registered by queries the audit
    never constructs — the silent under-construction this guard
    exists to fail loudly on."""
    return (
        _closure(skipped_mods, edges) - _closure(nonskipped_mods, edges)
    ) & mentions


def staging_site_names(path: str) -> set[str]:
    """Static staging call-site NAME literals in one module: the 2nd
    positional arg of staged_frame(...) (a str literal), or the first
    element of app_staged's key tuple when it is a str literal.
    Dynamic names (variables, f-strings) are invisible to this scan —
    staging.py's own forwarding call inside staged_frame is the one
    standing example — so literal-name sites are the checked set and
    dynamic sites remain the (now strictly smaller) documented
    boundary."""
    import ast

    names: set[str] = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        fname = fn.id if isinstance(fn, ast.Name) else (
            fn.attr if isinstance(fn, ast.Attribute) else ""
        )
        if not re.fullmatch(r"_?(app_staged|staged_frame)", fname):
            continue
        if len(node.args) < 2:
            continue
        arg = node.args[1]
        if "app_staged" in fname and isinstance(arg, ast.Tuple) and arg.elts:
            arg = arg.elts[0]
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            names.add(arg.value)
    return names


def unregistered_mixed_reachability_names(
    skipped_mods: set,
    nonskipped_mods: set,
    edges: dict,
    site_names_by_module: dict,
    registered: set,
) -> dict:
    """Pure core of the mixed-reachability registration check
    (unit-tested directly): for every module whose staging call sites
    are import-reachable from BOTH a skipped and a non-skipped query's
    module — the set check 2 of assert_no_staging_in_skipped_queries
    EXCUSES on the assumption that a non-skipped sibling registers its
    frames — return {module: names NOT actually registered during the
    construct pass}. A non-empty result means the excuse was wrong for
    those frames (the staging call sits on a code path only skipped
    queries take), i.e. the audit under-constructs (r15 verdict item
    4: turn the documented assumption into a checked one)."""
    mixed = _closure(skipped_mods, edges) & _closure(nonskipped_mods, edges)
    missing: dict = {}
    for mod in sorted(mixed & set(site_names_by_module)):
        gap = site_names_by_module[mod] - registered
        if gap:
            missing[mod] = gap
    return missing


def assert_no_staging_in_skipped_queries(specs) -> None:
    """Fail loudly if a BUILDER_RUNS-matching query could own a staged frame
    the audit's CONSTRUCT pass never registers. Staged frames are
    registered at plan-construction time, so building every
    non-skipped query's plan registers every staged frame — PROVIDED
    no skipped query owns one. Two checks, both derived from BUILDER_RUNS
    itself (ADVICE r14 — the old guard hard-coded the streaming/ and
    sources/ DIRECTORIES, which already missed source_append_merge in
    operators/setops.py):

    1. the skipped query's own defining module mentions the staging
       API (whole-module mention scan — err loud, then extend the
       audit);
    2. a module mentioning the staging API is import-reachable ONLY
       from skipped queries' modules (a private helper like a
       hypothetical streaming/state.py — its frames would never be
       registered; a helper shared with any non-skipped query is
       registered by that sibling and excused).

    Known boundary, recorded rather than hidden: a helper reachable
    from BOTH sides whose staging call sits on a code path only the
    skipped queries take is excused by check 2 and invisible to
    check 1 — textual analysis cannot see which fn path stages, and
    the side-effectful queries cannot be constructed to observe it.
    audit() closes this dynamically for literal-name call sites: after
    the construct pass it asserts every such mixed-reachability frame
    name was actually registered (unregistered_mixed_reachability_
    names); only dynamic-name sites remain outside both nets.
    """
    import sys as _sys

    bad = []
    for name in specs:
        if not BUILDER_RUNS.match(name):
            continue
        mod = _sys.modules.get(specs[name].fn.__module__)
        path = getattr(mod, "__file__", None)
        if path is None:
            bad.append((name, "<module file unresolved>"))
            continue
        if re.search(STAGING_RE, open(path).read()):
            bad.append((name, os.path.relpath(path)))
    if bad:
        raise SystemExit(
            "reroute_audit: BUILDER_RUNS queries defined in staging-touching "
            f"modules {sorted(set(bad))} — the audit's CONSTRUCT pass "
            "cannot register their frames; extend the audit to cover "
            "these owners first."
        )

    files, edges = _package_import_graph()
    mentions = {
        d for d, p in files.items() if re.search(STAGING_RE, open(p).read())
    }
    skipped_mods = {
        specs[n].fn.__module__ for n in specs if BUILDER_RUNS.match(n)
    } & set(files)
    nonskipped_mods = {
        specs[n].fn.__module__ for n in specs if not BUILDER_RUNS.match(n)
    } & set(files)
    rogue = staging_reachable_only_from_skipped(
        skipped_mods, nonskipped_mods, edges, mentions
    )
    if rogue:
        raise SystemExit(
            "reroute_audit: staging API reachable ONLY from BUILDER_RUNS "
            f"queries' modules via {sorted(rogue)} — their staged "
            "frames are never registered by the CONSTRUCT pass, so the "
            "audit would under-report cache substitutions; extend the "
            "audit to cover these owners first."
        )


def audit(spark, sf: str, root: str) -> list[tuple[str, int, int]]:
    """Single-pass reroute audit. Returns [(name, plans_md_staged_count,
    all-staged count)] for every auditable query whose staged-read
    count differs from the committed PLANS.md row.

    Deterministic in any starting cache state, without an owner list
    (ADVICE r13): the CONSTRUCT loop builds every auditable query's
    LOGICAL plan first, and staged_frame registers (and persist()s,
    lazily) with the CacheManager at construction time — so by the
    time the WALK loop forces physical planning (where
    CacheManager.useCachedData substitutes canonically-equal
    subtrees), EVERY staged frame is registered. Verified equivalent
    to the two-pass (build owners, rebuild all) formulation at this
    HEAD: both report the same diff set."""
    spec = importlib.util.spec_from_file_location(
        "plan_census",
        os.path.join(root, "scripts", "plan_census.py"),
    )
    census = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(census)

    from job_market_research_spark.registry import load_all

    specs = load_all()
    assert_no_staging_in_skipped_queries(specs)
    dfs = {}
    for n in sorted(specs):
        if BUILDER_RUNS.match(n):
            continue  # builders run real work; plan shape not at issue
        try:
            dfs[n] = specs[n].fn(spark, sf)
        except Exception as exc:
            print(f"CONSTRUCT-ERR {n}: {exc!r}"[:140])

    # The construct pass just registered every staged frame a
    # non-skipped query can reach. Check the mixed-reachability excuse
    # (see assert_no_staging_in_skipped_queries's boundary note): each
    # literal frame name in a module reachable from BOTH sides must
    # now be in the staging registry, or the audit under-constructs.
    from job_market_research_spark import staging

    files, edges = _package_import_graph()
    app = spark.sparkContext.applicationId
    registered = {
        k[1]
        for k in staging._STAGE_CACHE
        if k[0] == app and isinstance(k[1], str)
    }
    site_names = {
        d: ns
        for d, p in files.items()
        if (ns := staging_site_names(p))
    }
    skipped_mods = {
        specs[n].fn.__module__ for n in specs if BUILDER_RUNS.match(n)
    } & set(files)
    nonskipped_mods = {
        specs[n].fn.__module__ for n in specs if not BUILDER_RUNS.match(n)
    } & set(files)
    missing = unregistered_mixed_reachability_names(
        skipped_mods, nonskipped_mods, edges, site_names, registered
    )
    if missing:
        raise SystemExit(
            "reroute_audit: staged frames declared in mixed-reachability "
            f"modules were NOT registered by the construct pass: {missing} "
            "— their staging calls sit on code paths only BUILDER_RUNS queries "
            "take, so the audit under-reports cache substitutions; extend "
            "the audit to cover these owners first."
        )

    plans: dict[str, int] = {}
    for line in open(os.path.join(root, "PLANS.md")):
        m = re.match(r"\| `(\w+)`\\?\*? \| (\d+|—) \| (\d*) \|", line)
        if m:
            plans[m.group(1)] = int(m.group(3) or 0)

    changed = []
    for name in sorted(dfs):
        try:
            s = census.summarize_tree(dfs[name])
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
