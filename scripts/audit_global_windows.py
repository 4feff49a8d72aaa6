#!/usr/bin/env python
"""Runtime audit: which registered queries EXECUTE a partitionBy-less
window, per Spark's own `WindowExec: No Partition Defined` warning.

tests/test_plan_hygiene.py checks the RETURNED DataFrame's plan text,
which cannot see plans a query executes eagerly inside its body (e.g.
sink_jdbc_star's dimension build runs before the JDBC write). This
script runs every registered query at the smoke scale factor, watches
its own stderr for the JVM warning, and diffs the hits against the
test's ALLOWED_GLOBAL_WINDOW allowlist — both directions: un-allowlisted
hits (prove the bound and allowlist, or rewrite) AND allowlisted names
that never warn (stale allowlist entries).

Baseline at sf0.001: 43 runtime hits, all allowlisted with stated
bounds, zero stale entries.

Usage: python scripts/audit_global_windows.py [sf_dir]
Exit status 1 if either diff is non-empty.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    # Re-run as a child whose stderr goes to a per-run file it tails per
    # query; the file's path travels in _AUDIT_CHILD and the file is
    # removed when the child exits.
    errpath = os.environ.get("_AUDIT_CHILD")
    if errpath is None:
        fd, errpath = tempfile.mkstemp(prefix="audit_global_windows.", suffix=".stderr")
        try:
            with os.fdopen(fd, "wb") as f:
                return subprocess.run(
                    [sys.executable, os.path.abspath(__file__), sf],
                    stderr=f,
                    env={**os.environ, "_AUDIT_CHILD": errpath},
                ).returncode
        finally:
            os.remove(errpath)

    from job_market_research_spark.registry import load_all
    from job_market_research_spark.session import get_spark
    from tests.test_plan_hygiene import ALLOWED_GLOBAL_WINDOW

    specs = load_all()
    spark = get_spark(app_name="audit-global-windows")
    err = open(errpath, "rb")
    hits, errs = [], []
    for name in specs:
        pos = err.seek(0, 2)
        try:
            specs[name].fn(spark, sf).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # noqa: BLE001 - audit must keep going
            errs.append((name, str(e)[:80]))
            continue
        err.seek(pos)
        if b"No Partition Defined" in err.read():
            hits.append(name)

    allowed = set(ALLOWED_GLOBAL_WINDOW)
    unlisted = sorted(set(hits) - allowed)
    stale = sorted(allowed - set(hits))
    print(f"queries: {len(specs)}  runtime hits: {len(hits)}  errors: {len(errs)}")
    if errs:
        print("errors:", errs)
    print("hits NOT in allowlist:", unlisted or "none")
    print("allowlisted but never hit:", stale or "none")
    return 1 if (unlisted or stale or errs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
