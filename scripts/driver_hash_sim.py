#!/usr/bin/env python
"""Registry-wide oracle sweep: the `__spark_entry__.entry` smoke check,
then every registered query against its DuckDB oracle through both
compare layers of the driver contract, in one Spark session.

- ROW layer: `tests.oracle_utils.assert_parity` (column names, row
  count, type kinds, complex-typed columns, the EMPTY_OK non-vacuity
  probes, and the row-object value compare).
- DRIVER layer: the pandas canonicalization the driver's value hash
  actually takes (Spark `toPandas()` vs DuckDB `.df()`,
  column-name-sorted, row-sorted, CSV-rendered, sha256). This is where
  the r9-r10 incident lived: two queries whose VALUES matched on every
  row-object compare hashed differently because their DECIMAL output
  rendered as `Decimal` objects via Spark and float64 via DuckDB.
  tests/test_plan_hygiene.py's emission-type allowlist is the static
  guard, this layer the dynamic one.

Each selected query is built once and checked on both layers; a
failure is reported and the sweep goes on.

Usage: python scripts/driver_hash_sim.py [sf_dir] [--only=name1,name2]
sf_dir defaults to sf0.01, the driver's gate scale. --only checks just
the named queries and skips the entry smoke check: the pre-commit
changed-set run for every new or emission-changed query. An unknown
name exits 2 before any query runs.
Exit 0 = every selected check passed; 1 = some check failed.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

USAGE = "usage: driver_hash_sim.py [sf_dir] [--only=name1,name2]"


def _hash_frame(p) -> str:
    p = p[sorted(p.columns)].copy()
    if len(p):
        p = p.sort_values(list(p.columns)).reset_index(drop=True)
    return hashlib.sha256(p.to_csv(index=False).encode()).hexdigest()


def main(argv: list[str] | None = None) -> int:
    import __spark_entry__ as entry_mod

    args, only = [], None
    for a in sys.argv[1:] if argv is None else argv:
        if a.startswith("--only="):
            only = {n for n in a[len("--only="):].split(",") if n}
        elif a.startswith("-"):
            print(f"unknown option {a!r}\n{USAGE}", file=sys.stderr)
            return 2
        else:
            args.append(a)
    if len(args) > 1 or only == set():
        print(USAGE, file=sys.stderr)
        return 2
    sf = args[0] if args else "/root/testdata/sf0.01"
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    unknown = sorted((only or set()) - set(queries))
    if unknown:
        print(f"unknown --only names: {unknown}", file=sys.stderr)
        return 2

    from job_market_research_spark.session import get_spark
    from tests.oracle_utils import assert_parity, oracle_con

    t0 = time.time()
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    failed: dict[str, list[str]] = {"entry": [], "row": [], "driver": []}

    def check(layer: str, name: str, fn) -> None:
        try:
            fn()
        except Exception as exc:  # keep going: report ALL failures
            failed[layer].append(name)
            print(f"FAIL {layer} {name}: {exc}", file=sys.stderr)

    def entry_smoke() -> None:
        if not entry_mod.entry(spark).collect():
            raise AssertionError("entry() returned no rows")

    def driver_hash(df, sql: str) -> None:
        if _hash_frame(df.toPandas()) != _hash_frame(con.sql(sql).df()):
            raise AssertionError("pandas hash mismatch")

    if only is None:
        check("entry", "entry", entry_smoke)
    con = oracle_con(sf)
    names = sorted(queries if only is None else only)
    for name in names:
        try:
            df = queries[name](spark, sf)
        except Exception as exc:  # a query that cannot build fails both layers
            failed["row"].append(name)
            failed["driver"].append(name)
            print(f"FAIL build {name}: {exc}", file=sys.stderr)
            continue
        check("row", name, lambda: assert_parity(df, con, oracles[name], name=name, sf_dir=sf))
        check("driver", name, lambda: driver_hash(df, oracles[name]))
    con.close()

    n = len(names)
    entry = "skipped" if only is not None else "FAILED" if failed["entry"] else "ok"
    scope = "" if only is None else f" (changed-set of {n})"
    print(
        f"{'FAIL' if any(failed.values()) else 'SWEEP OK'}: entry {entry}; "
        f"row {n - len(failed['row'])}/{n}, driver {n - len(failed['driver'])}/{n} "
        f"at {sf} in {time.time() - t0:.0f}s{scope}"
        + "".join(f"; {k} failed: {v}" for k, v in failed.items() if v and k != "entry")
    )
    return 1 if any(failed.values()) else 0


if __name__ == "__main__":
    raise SystemExit(main())
