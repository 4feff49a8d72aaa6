"""Entry points outside the pytest session's own path setup: the
registry-wide oracle sweep's CLI (scripts/driver_hash_sim.py), a second
session.get_spark call in a live process, and Arrow Python workers
started from a foreign working directory."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sweep_main():
    spec = importlib.util.spec_from_file_location(
        "driver_hash_sim", os.path.join(ROOT, "scripts", "driver_hash_sim.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


def test_oracle_sweep_passes_named_query(spark, sf_dir):
    main = _sweep_main()
    assert main([sf_dir, "--only=join_sector_count"]) == 0


def test_get_spark_returns_live_session_untouched(spark):
    """A second get_spark in a process with a live session hands that
    session back as it is: the second caller's master and SQL confs are
    not applied to the first caller's session."""
    from job_market_research_spark.session import get_spark

    master = spark.sparkContext.master
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    again = get_spark(master="local[1]", shuffle_partitions=7)
    assert again is spark
    assert spark.sparkContext.master == master
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions


def test_oracle_sweep_rejects_bad_only_before_running(sf_dir, monkeypatch, capsys):
    import job_market_research_spark.session as session

    def no_session(*_a, **_k):
        raise AssertionError("the sweep started a session")

    monkeypatch.setattr(session, "get_spark", no_session)
    main = _sweep_main()
    assert main([sf_dir, "--only=no_such_query"]) != 0
    assert "no_such_query" in capsys.readouterr().err
    # the space-separated form is not the CLI's; it must not run either
    assert main([sf_dir, "--only", "join_sector_count"]) != 0
    assert main([sf_dir, "--only="]) != 0


def test_python_workers_import_package_from_any_cwd(tmp_path, sf_dir):
    """A query with an Arrow Python worker, run from a directory that is
    not the repo root and with PYTHONPATH unset: the workers must still
    import the package (session.get_spark hands them the repo root)."""
    code = (
        "import sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from job_market_research_spark.registry import load_all\n"
        "from job_market_research_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=1)\n"
        "df = load_all()['grouped_pandas_ewma'].fn(spark, "
        f"{os.path.abspath(sf_dir)!r})\n"
        "print(len(df.collect()))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split()[-1]) > 0
