"""Staged intermediates shared across registry queries: frames and files.

Several query families re-derive the same expensive intermediate per
query — the dedup family's augmented corpus / shingle / signature
tables, the IR family's whitespace token-count table, the streaming
family's arrival directories, the lake-maintenance layouts. Staging
builds each one ONCE and hands every family member the same result, so
a full-registry sweep pays each derivation once instead of once per
query (r11 verdict item 1). This mirrors the reference pipeline, which
hands each stage's output to the next as a named artifact in its own
bucket.

Key rule, for frames and files alike: a staged artifact is identified
by what it was derived from, ``(name, realpath(sf_dir), *params)``.
The realpath means a symlinked dataset cannot create a second entry for
the same data, and two datasets can never share one. Callers pass the
name, the dataset and the extra parameters (shingle width, iteration
round, arrival-file count); they never build the key themselves.

- Frames (`staged_frame`) live per Spark application: built once with
  ``persist(MEMORY_AND_DISK)`` and memoized under ``(applicationId,
  *key)`` like io._DF_CACHE, so entries pinned to a stopped session
  are unpersisted and dropped the first time a successor app stages
  anything (one live app per process).
- Files (`staged_files`) live per process, in a per-pid scratch
  directory whose name is derived from the key (sources.readers.
  scratch_dir), so staging a second dataset never wipes the first
  one's files. The stage's result is memoized per key and re-staged if
  its directory is gone.

At 100 TB a staged frame would be a written-out parquet/Delta table
(the classic inverted-index or signature-table materialization); within
one Spark app the block store is the idiomatic equivalent and spills to
disk when it outgrows memory.

Correctness note: a staged frame is VALUES-identical to its inline
derivation — persist changes the physical access path, never the
result — and a staged file set is a pure function of its key, so every
DuckDB oracle twin is untouched by staging.

Lifecycle note: frame entries live until the app changes (dead-app
eviction below) — including query-LOCAL round frames (k-core alive_r,
BFS dist_r, HITS state) that no other query will read. That is
deliberate: the frames are |V|-bounded (never corpus-sized), persist()
is lazy so plan construction stays nearly execution-free (the plan
census builds all 465 plans without running them — an eager
localCheckpoint would break that; one exception: ml.graph.staged_und's
BUILD runs a docs.count() job the first time any iterative graph plan
is constructed, to size its round count), and under storage pressure
Spark's LRU evicts exactly these never-re-read blocks first, at
recompute-on-miss cost only. A sweep leaves ~a dozen small round
tables resident, not a leak.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import os
from collections.abc import Callable

from pyspark.sql import DataFrame

from job_market_research_spark.sources.readers import scratch_dir

_STAGE_CACHE: dict[tuple, DataFrame] = {}

#: File stages: key -> (staged directory, the stage's return value).
_FILE_CACHE: dict[tuple, tuple[str, object]] = {}


def stage_key(name: str, sf_dir: str, *params) -> tuple:
    """The one key rule: (name, realpath(sf_dir), *params)."""
    return (name, os.path.realpath(sf_dir), *params)


def staged_frame(
    spark, name: str, sf_dir: str, build: Callable[[], DataFrame], *params
) -> DataFrame:
    """Return the staged frame for `stage_key(name, sf_dir, *params)`,
    building + persisting it on first use in this Spark application."""
    app = spark.sparkContext.applicationId
    full = (app, *stage_key(name, sf_dir, *params))
    hit = _STAGE_CACHE.get(full)
    if hit is not None:
        return hit
    for k in [k for k in _STAGE_CACHE if k[0] != app]:
        try:
            _STAGE_CACHE[k].unpersist()
        except Exception:
            pass  # stopped contexts can't (and needn't) unpersist
        del _STAGE_CACHE[k]
    from pyspark import StorageLevel

    df = build().persist(StorageLevel.MEMORY_AND_DISK)
    _STAGE_CACHE[full] = df
    return df


def staged_files(stage: Callable) -> Callable:
    """Decorate `stage(spark, sf_dir, *params, out)` — a function that
    writes files derived from the dataset into the directory `out` —
    into `stage(spark, sf_dir, *params)`, memoized per process under
    `stage_key(stage.__name__, sf_dir, *params)`.

    Parameters enter the key bound to the signature with defaults
    applied, so positional, keyword and defaulted calls share one
    entry. `out` is a fresh scratch directory named after the key; the
    memoized result is returned while that directory exists, and the
    stage re-runs if it is gone."""
    sig = inspect.signature(stage)
    name = stage.__name__

    @functools.wraps(stage)
    def staged(spark, sf_dir: str, *args, **kwargs):
        bound = sig.bind_partial(spark, sf_dir, *args, **kwargs)
        bound.apply_defaults()
        key = stage_key(name, sf_dir, *list(bound.arguments.values())[2:])
        hit = _FILE_CACHE.get(key)
        if hit is not None and os.path.isdir(hit[0]):
            return hit[1]
        digest = hashlib.sha1(repr(key).encode()).hexdigest()[:10]
        out = scratch_dir(f"{name}_{digest}")
        result = stage(*bound.args, out=out, **bound.kwargs)
        _FILE_CACHE[key] = (out, result)
        return result

    return staged
