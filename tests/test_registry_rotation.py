"""Unit tests for the registry's proof-window ordering
(`evidence_order`, the pure rule behind `load_all`).

The driver proves a bounded window (the first ~50 names) per round, so
the ordering IS the proof schedule: tier 0 (no green driver row, or a
fingerprint change newer than the green row) first, then tier 1 oldest
proving round first, ties in registry order."""

from __future__ import annotations

from job_market_research_spark.registry import (
    REGISTRY,
    _driver_green_evidence,
    evidence_order,
    load_all,
    load_fingerprints,
)


def test_unproven_front_and_priority_order():
    """Unproven names come first, in registry order."""
    names = ["c", "a", "b", "z"]
    out = evidence_order(names, {"z": 3}, {})
    assert out == ["c", "a", "b", "z"]


def test_green_rotates_oldest_proving_round_first():
    """The round-5 verdict's item 4: once tier 0 drains, §2 queries
    coasting on round-2 proof must re-enter the window ahead of
    freshly-proven ones — oldest FILENAME round first, registry
    position as the tiebreak."""
    names = ["r5a", "r2b", "r2a", "r4a"]
    green = {"r5a": 5, "r2b": 2, "r2a": 2, "r4a": 4}
    # registry order is the list order: r2b precedes r2a
    assert evidence_order(names, green, {}) == ["r2b", "r2a", "r4a", "r5a"]


def test_change_after_green_round_goes_to_tier_0():
    """A fingerprint change in a round LATER than the newest green row
    re-fronts the query; a change in or before that round does not."""
    names = ["a", "b", "c"]
    green = {"a": 8, "b": 8, "c": 9}
    assert evidence_order(names, green, {"b": 18}) == ["b", "a", "c"]
    assert evidence_order(names, green, {"b": 8}) == ["a", "b", "c"]


def test_newer_green_row_returns_changed_query_to_tier_1():
    """Once the driver proves the changed query again, it rotates by
    that new round like any other green query."""
    names = ["a", "b", "c"]
    green = {"a": 8, "b": 18, "c": 9}
    assert evidence_order(names, green, {"b": 18}) == ["a", "c", "b"]


def test_changing_one_query_moves_exactly_that_query():
    """On the live evidence, marking one tier-1 query from the middle
    of the order as changed after every round moves it into tier 0 and
    leaves the relative order of every other query alone."""
    load_all()
    names = list(REGISTRY)
    green = _driver_green_evidence()
    changed_in = {n: e["changed_in"] for n, e in load_fingerprints().items()}
    before = evidence_order(names, green, changed_in)
    tier0 = sum(1 for n in names if n not in green or changed_in.get(n, 0) > green[n])
    moved = before[len(before) // 2]
    assert moved in green and changed_in.get(moved, 0) <= green[moved]
    after = evidence_order(
        names, green, {**changed_in, moved: max(green.values()) + 1}
    )
    assert after.index(moved) <= tier0  # inside the grown tier 0
    assert [n for n in after if n != moved] == [n for n in before if n != moved]


def test_operators_md_histogram_matches_correctness_union():
    """OPERATORS.md is generated, but nothing forced regeneration when
    a new driver CORRECTNESS file landed — the r13 AND r14 verdicts
    both caught the committed histogram one round stale. This pins the
    doc's freshness line to the LIVE evidence union: the first pytest
    run after a new CORRECTNESS_r*.json lands fails here until
    `python scripts/gen_operators_md.py` is re-run (the round-open
    routine the r14 verdict item 3 asked to machine-enforce)."""
    import os
    import re

    from job_market_research_spark.registry import _driver_green_evidence

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(root, "OPERATORS.md")).read()
    m = re.search(r"Freshness histogram — (.*?); unproven: (\d+)\.", text)
    assert m, "OPERATORS.md freshness-histogram line missing or reformatted"
    doc_hist = dict(
        (k, int(v)) for k, v in re.findall(r"(r\d+): (\d+)", m.group(1))
    )
    green = _driver_green_evidence()
    specs = load_all()
    live_hist: dict[str, int] = {}
    for n in specs:
        if n in green:
            key = f"r{green[n]}"
            live_hist[key] = live_hist.get(key, 0) + 1
    live_unproven = sum(1 for n in specs if n not in green)
    assert (doc_hist, int(m.group(2))) == (live_hist, live_unproven), (
        f"OPERATORS.md histogram stale: doc={doc_hist} unproven={m.group(2)} "
        f"vs live={live_hist} unproven={live_unproven} — regenerate with "
        "`python scripts/gen_operators_md.py`"
    )


def test_live_window_fronts_unproven_queries():
    """load_all()'s live order obeys the rule: every tier-0 name (no
    green driver row, or changed since it) precedes every tier-1 name,
    and tier-1 proving rounds never decrease along the order."""
    green = _driver_green_evidence()
    changed_in = {n: e["changed_in"] for n, e in load_fingerprints().items()}
    names = list(load_all())
    tier0 = [n not in green or changed_in.get(n, 0) > green[n] for n in names]
    assert tier0 == sorted(tier0, reverse=True), (
        "tier-1 query ahead of a tier-0 query: "
        f"{[n for n, t in zip(names, tier0) if not t][:5]}"
    )
    rounds = [green[n] for n, t in zip(names, tier0) if not t]
    assert rounds == sorted(rounds), "tier-1 proving rounds decrease along load_all()"
