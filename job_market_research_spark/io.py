"""Testdata table loading helpers.

The driver's synthetic tables (TESTDATA.md) are the substrate every
registry query runs on. Loading is plain columnar parquet scans —
Catalyst prunes columns and pushes filters into the scan, so callers
just `load()` and express the plan declaratively.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Memoized parquet-footer unit of events.ts per path, and the legacy
#: magnitude-probe fallback result per path. Both are per-process: the
#: testdata files are immutable for a session, so one probe per path is
#: enough (previously the probe re-ran a full-column scan on EVERY
#: load, once per streaming staging call).
_TS_UNIT_CACHE: dict[str, str] = {}
_TS_PROBE_CACHE: dict[str, int] = {}

#: Memoized loaded DataFrames per (Spark application, table path).
#: `spark.read.parquet` costs ~90 ms per call (JVM file listing +
#: schema read) and the registry queries call load() 2–7 times each —
#: pure planning overhead on IMMUTABLE testdata. A DataFrame is an
#: immutable logical plan, so reuse across queries is safe; keying by
#: applicationId keeps entries from a stopped session from leaking
#: into its successor (each SparkContext gets a fresh app id).
#:
#: Caveats (by design, documented for harness authors):
#: - The cached plan PINS the file listing (InMemoryFileIndex) from
#:   first load for the life of the app — a harness that REWRITES a
#:   table under sf_dir needs a new Spark app (stop the session and
#:   build a fresh one) or it will scan the stale file list.
#: - The dict is mutated without a lock: the engine is driven from a
#:   single Python thread (driver / pytest / bench). Concurrent
#:   multi-threaded load() calls could at worst double-plan a table,
#:   never corrupt results, but are not a supported pattern.
_DF_CACHE: dict[tuple[str, str], DataFrame] = {}


def _events_ts_unit(path: str) -> str:
    """Logical type of `events.ts` read from the parquet FOOTER — a
    metadata-only read, no Spark job, no data scan.

    Returns 'ns' | 'us' | 'ms' | 's' for annotated timestamps, 'int64'
    for a plain unannotated INT64, 'unknown' when the footer cannot be
    read (caller then falls back to the magnitude probe). Footer
    inspection is strictly better than probing values: a plain-INT64
    generation and a TIMESTAMP(NANOS) generation are distinguished by
    declared type, not by magnitude heuristics that misclassify pre-1973
    ns epochs or empty tables.
    """
    cached = _TS_UNIT_CACHE.get(path)
    if cached is not None:
        return cached
    unit = "unknown"
    try:
        import glob as _glob

        import pyarrow as pa
        import pyarrow.parquet as pq

        f = path
        if os.path.isdir(path):
            parts = sorted(_glob.glob(os.path.join(path, "*.parquet")))
            if parts:
                f = parts[0]
        t = pq.read_schema(f).field("ts").type
        if pa.types.is_timestamp(t):
            unit = t.unit
        elif pa.types.is_int64(t):
            unit = "int64"
    except Exception:
        unit = "unknown"
    _TS_UNIT_CACHE[path] = unit
    return unit


def _assert_utc(spark: SparkSession) -> None:
    """Re-assert the UTC session-timezone invariant (see `load`); runs
    on EVERY events load including memoized hits, since a mid-session
    timezone change would silently alter NTZ→TIMESTAMP casting."""
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        tz = None
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
        import sys

        print(
            "io.load('events'): session timezone was "
            f"{tz!r}; setting UTC (required invariant — see "
            "session.get_spark). Set it at session creation to "
            "avoid this mid-session change.",
            file=sys.stderr,
        )
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one synthetic table.

    `events.ts` has shipped as two different parquet types across
    testdata generations, so the shim dispatches on the SCANNED type:

    - TIMESTAMP(NANOS): with `spark.sql.legacy.parquet.nanosAsLong` it
      scans as long nanoseconds and is converted via exact integer
      division (`div` — no double round-trip, which would lose
      precision above 2^53 ns). Truncation-toward-zero equals DuckDB's
      ns→µs truncation for positive epochs, so oracle values match.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): scans as TIMESTAMP_NTZ
      (requires `spark.sql.parquet.inferTimestampNTZ.enabled`, set
      defensively below — without it the scan yields session-local
      TIMESTAMP and values become timezone-dependent). NTZ is then cast
      to TIMESTAMP under a UTC session timezone, which is value-
      preserving vs the naive/DuckDB oracle AND satisfies event-time
      consumers: `withWatermark` / `unix_micros` reject TIMESTAMP_NTZ
      (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE — the round-3 streaming
      failure mode).

    The LongType branch resolves the unit from the parquet FOOTER
    (`_events_ts_unit` — metadata-only, memoized per path): a declared
    TIMESTAMP(NANOS) divides by 1000, a plain INT64 is taken as already-
    microseconds. Only when the footer is unreadable does it fall back
    to a (memoized) one-time magnitude probe.

    INVARIANT — all sessions running these queries must use a UTC
    session timezone. `session.get_spark` sets it at creation; the
    driver's own session is set here IF (and only if) it violates the
    invariant, with a stderr warning, because NTZ→TIMESTAMP casting and
    timestamp output rendering are both session-timezone-dependent and
    every oracle comparison assumes naive-UTC semantics. The two
    parquet confs below are scan-scoped: they only change how
    NANOS-typed / NTZ-annotated parquet columns are SCANNED and cannot
    alter the semantics of non-events queries.
    """
    app = spark.sparkContext.applicationId
    ckey = (app, table_path(sf_dir, name))
    cached = _DF_CACHE.get(ckey)
    if cached is not None:
        if name == "events":
            _assert_utc(spark)  # the invariant re-check must survive hits
        return cached
    # evict plans pinned to stopped SparkContexts: one live app at a
    # time per process, so any other app id is dead weight (and a
    # recycled local-mode id must never serve a dead session's plan)
    for k in [k for k in _DF_CACHE if k[0] != app]:
        del _DF_CACHE[k]
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        _assert_utc(spark)
    path = table_path(sf_dir, name)
    df = spark.read.parquet(path)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            unit = _events_ts_unit(path)
            if unit == "unknown":
                # Footer unreadable: one-time magnitude probe per path.
                # Epoch-ns ≈ 1.7e18 for 2020s dates; epoch-µs ≈ 1.7e15.
                if path not in _TS_PROBE_CACHE:
                    _TS_PROBE_CACHE[path] = (
                        df.selectExpr("max(abs(ts)) AS m").first()["m"] or 0
                    )
                unit = "ns" if _TS_PROBE_CACHE[path] > 10**17 else "int64"
            micros = F.expr("ts div 1000") if unit == "ns" else F.col("ts")
            df = df.withColumn("ts", F.timestamp_micros(micros))
        elif not isinstance(ts_type, TimestampType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _DF_CACHE[ckey] = df
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register tables as temp views for `spark.sql` queries.

    Registers only the requested tables (default: all), and tolerates a
    per-table load failure so a query that never touches `events` cannot
    die on an `events` scan quirk. A swallowed failure is printed —
    otherwise the query that DOES touch the table dies later with an
    opaque TABLE_OR_VIEW_NOT_FOUND far from the root cause.
    """
    import sys

    for name in tables:
        try:
            load(spark, sf_dir, name).createOrReplaceTempView(name)
        except Exception as exc:
            if name in ("region", "nation"):  # core dims must exist
                raise
            print(
                f"register_views: skipped view '{name}' "
                f"({type(exc).__name__}: {exc})",
                file=sys.stderr,
            )
