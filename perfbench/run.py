#!/usr/bin/env python3
"""Benchmark of the query engine: closed-loop workloads over the query
registry, each run in a fresh process.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 1 --trace 0

Workloads (see `workloads.py`): `dashboard`, `pipeline`; `all` runs
them one after another and prints every workload's metrics.

One run:
1. writes the synthetic tables once per checkout (`datagen.py`, under
   `.perfbench/data/`), independent of the seed;
2. times a fixed pure-Python loop (`host.ref_s`, diagnosis only);
3. starts a fresh child process (`child.py`) with its own empty
   SPARK_LOCAL_DIRS and SPARK_GRAFT_CPUS set to the usable core count;
   the child sets up the session and registry, runs a cold pass,
   checks every query's output against its DuckDB oracle twin
   (untimed), then runs three warm passes, and more until `--seconds`
   of warm-pass time have been measured;
4. times the host loop again, removes the run's scratch output, and
   prints every metric by name with its unit, then one JSON line:
   `{"correct", "attempted", "failed", "metrics"}`.

With `--trace 0` the metrics are the end-to-end ones (`aggregate.END_TO_END`);
with `--trace 1` they are the per-layer ones (`aggregate.PER_LAYER`),
from a run that alternates untraced and traced warm passes. Each run's
full record, with spans for a traced run, is written to
`.perfbench/records/`. The exit code is 0 only when every query ran and
matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import aggregate  # noqa: E402
import datagen  # noqa: E402
from workloads import SF, WORKLOADS  # noqa: E402

CHILD_TIMEOUT_S = 150
HOST_REF_ITERATIONS = 3_000_000
#: Files of the program the benchmark drives; without them it cannot run.
REQUIRED = ("job_market_research_spark/registry.py", "scripts/driver_hash_sim.py", "bench.py")


def host_ref_s() -> float:
    """Wall time of a fixed pure-Python loop: a reference for host speed."""
    t0 = time.perf_counter()
    x = 0
    for i in range(HOST_REF_ITERATIONS):
        x += i & 7
    return time.perf_counter() - t0


def _stop_group(pgid: int, grace_s: float = 15.0) -> None:
    """Wait until no process of the child's group (its JVM and Python
    workers) is left; kill what remains after `grace_s`."""
    deadline = time.monotonic() + grace_s
    sig = 0
    while time.monotonic() < deadline + 5.0:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.05)
    print(f"perfbench: processes of group {pgid} outlived SIGKILL", file=sys.stderr)


def run_child(args, workload: str, data_dir: str, work: str) -> tuple[int, str, str]:
    """Run one child; returns (exit code, stdout, path of its log)."""
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    local_dirs = os.path.join(run_dir, "spark-local")
    os.makedirs(local_dirs)
    log_dir = os.path.join(work, "logs")
    os.makedirs(log_dir, exist_ok=True)
    log_path = os.path.join(log_dir, f"{workload}-seed{args.seed}-trace{args.trace}.log")
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = local_dirs
    # Keep the JVM's and Python's temporary files inside the run directory.
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if o
    )
    # Python workers are started by the JVM and must find the package
    # whatever directory the caller started from.
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    cmd = [
        sys.executable,
        os.path.join(HERE, "child.py"),
        f"--workload={workload}",
        f"--seed={args.seed}",
        f"--seconds={args.seconds}",
        f"--trace={args.trace}",
        f"--data={data_dir}",
        f"--spawned-at={time.time()!r}",
    ]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            out, _ = proc.communicate()
            print(f"perfbench: child exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            _stop_group(proc.pid)
            shutil.rmtree(run_dir, ignore_errors=True)
            shutil.rmtree(os.path.join(ROOT, ".scratch", f"pid{proc.pid}"), ignore_errors=True)
    return proc.returncode, out, log_path


def _print_metrics(workload: str, metrics: dict, units: dict) -> None:
    for k in units:
        print(f"{workload:10s} {k:32s} {metrics[k]:14.6f} {units[k]}")


def run_workload(args, workload: str, data_dir: str, work: str) -> dict | None:
    """One run of `workload`: prints its metrics, writes its record, and
    returns its result line, or None when the child left no record."""
    ref_before = host_ref_s()
    code, out, log_path = run_child(args, workload, data_dir, work)
    ref_after = host_ref_s()
    try:
        record = aggregate.parse_child_output(out)
    except ValueError:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print(f"perfbench: {workload} child exited {code} without a record\n{tail}", file=sys.stderr)
        return None

    record["host_ref_s"] = {"before": ref_before, "after": ref_after}
    if code != 0:
        record["failures"].append({"op": "child", "query": None, "error": f"exit code {code}"})
    stamps = record["stamps"]
    attempted, failed = aggregate.ops(record)
    print(
        f"perfbench {workload} seed={args.seed} trace={args.trace} sf={SF} "
        f"master={stamps['master']} defaultParallelism={stamps['default_parallelism']} "
        f"versions={json.dumps(stamps['versions'], sort_keys=True)}"
    )
    print(f"host.ref_s before={ref_before:.4f} after={ref_after:.4f} (diagnosis only)")
    print(f"ops_failed={failed} of ops_total={attempted}")
    if args.trace:
        metrics = aggregate.per_layer(record, (ref_before + ref_after) / 2)
        units = aggregate.PER_LAYER
    else:
        metrics, units = aggregate.end_to_end(record), aggregate.END_TO_END
    _print_metrics(workload, metrics, units)
    if args.trace:
        detail = {f"{k}.{kind}": u for kind in ("cold", "warm") for k, u in aggregate.DETAIL_LAYERS.items()}
        _print_metrics(workload, metrics, detail)
    if not args.trace and WORKLOADS[workload].latency_quantiles:
        q = aggregate.latency_quantiles(record)
        record["latency"] = q
        p90 = q["query_p90_s"]
        print(
            f"{workload:10s} {'query_p50_s':32s} {q['query_p50_s']:14.6f} s "
            f"(warm per-query latency, {q['samples']} samples)"
        )
        print(
            f"{workload:10s} {'query_p90_s':32s} "
            + (f"{p90:14.6f} s" if p90 is not None else "withheld: fewer than 10 samples beyond p90")
        )
    record["metrics"] = metrics
    rec_dir = os.path.join(work, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"run record: {os.path.relpath(rec_path, ROOT)}")
    return aggregate.result_line(record, metrics, units)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # Let a termination request unwind through `run_child`, which then
    # kills the child's process group.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a checkout of the engine; missing {missing}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    data_dir = datagen.ensure(os.path.join(work, "data"), SF)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    lines = {}
    for name in names:
        line = run_workload(args, name, data_dir, work)
        if line is None:
            return 2
        lines[name] = line
    if len(lines) == 1:
        line = lines[args.workload]
    else:
        line = {
            "correct": all(x["correct"] for x in lines.values()),
            "attempted": sum(x["attempted"] for x in lines.values()),
            "failed": sum(x["failed"] for x in lines.values()),
            "metrics": {f"{w}.{k}": v for w, x in lines.items() for k, v in x["metrics"].items()},
        }
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
