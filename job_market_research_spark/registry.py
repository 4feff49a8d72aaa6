"""Query registry: every SURVEY §2 operator as (Spark query, DuckDB oracle).

Each operator from the survey inventory is registered under its §2 ID as
a callable ``(spark, sf_dir) -> DataFrame`` together with an ANSI-SQL
oracle string DuckDB runs on the same parquet tables. The driver
(`__spark_entry__.py`) compares row counts, schemas and
order-insensitive value hashes — so both sides must agree on column
NAMES and exact VALUES.

Float-exactness policy (critical for hash matching):
- Aggregates over doubles are computed in DECIMAL (exact) and cast back
  to DOUBLE at the end: ``CAST(SUM(CAST(x AS DECIMAL(18,4))) AS
  DOUBLE)``. Decimal sums are order-independent, so Spark's partial
  aggregation and DuckDB's single-threaded sum produce bit-identical
  results.
- Averages are expressed as exact-decimal sum divided by count, both in
  DOUBLE, on both sides.
- Genuinely-float math (cosine similarity) is rounded to 6 decimals on
  both sides; with <=64-element vectors the cross-engine summation
  error (~1e-13) cannot straddle a rounding boundary in practice.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    """Register an operator query with its oracle-SQL twin."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tuple(tags)
        )
        return fn

    return deco


#: Queries whose BUILDER runs real work (streaming drains, foreachBatch
#: folds, sink writes) before returning the result frame. Read only by
#: the plan census, which stars them in PLANS.md.
BUILDER_RUNS = re.compile(r"^(stream_|sink_|source_append)")

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Written by scripts/plan_census.py: {name: {"fp": hex, "changed_in":
#: round}}. `changed_in` is the round a query's fingerprint last changed.
FINGERPRINTS_PATH = os.path.join(_ROOT, "FINGERPRINTS.json")

#: Testdata scale the fingerprints are taken at: builders that collect
#: data-derived constants embed them in the plan, so each scale
#: fingerprints differently.
FINGERPRINT_SCALE = "sf0.001"

#: Plan-text noise that differs between runs of an unchanged query.
_PLAN_NOISE = (
    (re.compile(r"#\d+L?"), "#"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id"),
    (re.compile(r"uuid\(Some\(-?\d+\)\)"), "uuid(seed)"),
    # F.transform & co. name lambda variables from a process-wide counter
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_"),
    (re.compile(r"\bsink_[0-9a-f]{8}\b"), "sink_"),  # streaming memory sinks
    (re.compile(r"<root>/\.scratch/pid\d+"), "<scratch>"),  # sources.readers
)


def plan_fingerprint(df: DataFrame, oracle: str | None, sf_dir: str) -> str:
    """Hash of a query's oracle SQL plus its analyzed logical plan text,
    with the dataset path, the repo root and `_PLAN_NOISE` replaced by
    placeholders.

    The analyzed plan is the query as its code wrote it. The optimized
    plan is not stable enough: once a staged frame exists, Spark's cache
    substitutes it into other queries' optimized plans, and after it
    executes its reprint changes form, so the same query would
    fingerprint differently in a fresh census and late in a test run.
    The text is printed untruncated: by default Spark elides fields and
    literal-array elements past the 25th, and an edit there would go
    unseen."""
    conf, key = df.sparkSession.conf, "spark.sql.debug.maxToStringFields"
    limit = conf.get(key)
    conf.set(key, str(2**31 - 1))
    try:
        text = df._jdf.queryExecution().analyzed().toString()
    finally:
        conf.set(key, limit)
    sf_paths = {os.path.abspath(sf_dir), os.path.realpath(sf_dir)}
    for path in sorted(sf_paths, key=len, reverse=True):  # longest first
        text = text.replace(path, "<sf>")
    text = text.replace(_ROOT, "<root>")
    for pattern, placeholder in _PLAN_NOISE:
        text = pattern.sub(placeholder, text)
    return hashlib.sha256(f"{oracle or ''}\n{text}".encode()).hexdigest()[:16]


def load_fingerprints() -> dict[str, dict]:
    """FINGERPRINTS.json, or {} before the first census writes it."""
    try:
        with open(FINGERPRINTS_PATH) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def correctness_rounds() -> list[tuple[int, str]]:
    """(round, path) of every driver CORRECTNESS_r*.json at the repo
    root, oldest first. The round comes from the FILENAME: a fresh
    checkout gives every file the same mtime."""
    rounds = []
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    return sorted(rounds)


def _driver_green_evidence() -> dict[str, int]:
    """Query name -> newest round whose driver CORRECTNESS row is fully
    green (no error; row count, schema and value hash all match)."""
    green: dict[str, int] = {}
    for rnd, path in correctness_rounds():
        try:
            with open(path) as f:
                data = json.load(f)
        except Exception:
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("err") in (None, "")
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                green[name] = rnd  # rounds ascend: the newest wins
    return green


def load_all() -> dict[str, QuerySpec]:
    """Import every query-defining module, then return the registry in
    the driver's proof-window order (`evidence_order`)."""
    # Imports are for the registration side effects.
    from job_market_research_spark.plans import (  # noqa: F401
        analytics,
        classics,
        robust_stats,
        events_analytics,
        star_v2,
        timeseries,
        windows_analytic,
    )
    from job_market_research_spark.operators import (  # noqa: F401
        bloom,
        bucketing,
        cleaning,
        dedup,
        intervals,
        joins,
        manifest,
        matview,
        privacy_release,
        nested,
        quality,
        scd,
        sessionize,
        setops,
        sketches,
        skew,
        temporal_joins,
    )
    from job_market_research_spark.functions import (  # noqa: F401
        corpus,
        dates,
        enrich,
        quality_filters,
        scalars,
        text,
    )
    from job_market_research_spark.sources import (  # noqa: F401
        binary_source,
        readers,
        sinks,
    )
    from job_market_research_spark.ml import (  # noqa: F401
        clustering,
        curation,
        evaluate,
        geometry,
        graph,
        ir,
        linkage,
        neardup,
        sampling,
        similarity,
        vectors,
    )
    from job_market_research_spark.multimodal import binary_ops, real_media  # noqa: F401
    from job_market_research_spark.streaming import bitmaps, sessions, windows  # noqa: F401

    changed_in = {n: e["changed_in"] for n, e in load_fingerprints().items()}
    return {
        name: REGISTRY[name]
        for name in evidence_order(list(REGISTRY), _driver_green_evidence(), changed_in)
    }


def evidence_order(
    names: list[str], green: dict[str, int], changed_in: dict[str, int]
) -> list[str]:
    """The driver proves a bounded prefix of the registry order (its
    first ~50 names) against the DuckDB oracles each round, so this
    order is the proof schedule:

    Tier 0 first: queries with no green driver row (`green`: name ->
    newest green round), or whose fingerprint changed in a round later
    than that row (`changed_in`: name -> round, from FINGERPRINTS.json).
    Tier 1 next: every other query, oldest proving round first.
    Ties keep the order of `names` (registry order)."""

    def key(name: str) -> tuple[int, int]:
        rnd = green.get(name)
        if rnd is None or changed_in.get(name, 0) > rnd:
            return (0, 0)
        return (1, rnd)

    return sorted(names, key=key)  # stable sort: ties keep registry order


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in load_all().items()}


def oracle_map() -> dict[str, str]:
    return {name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None}
