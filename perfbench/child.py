"""One benchmark run of one workload, in a fresh process.

Started by `run.py` with the checkout root as working directory. The
child starts a session, loads the registry, runs a cold pass, checks
every query's output against its DuckDB oracle twin (untimed), then
runs `WARM_PASSES` warm passes, and more until `--seconds` of warm-pass
time is measured. It prints one JSON record as the last line of its
standard output.

With `--trace 1` the child also records, from outside the engine, the
per-layer counters at each query's boundaries (see `Tracer`), and
alternates untraced and traced warm passes so that the tracing overhead
can be read off the same run.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import re
import resource
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aggregate import FAMILIES  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

#: Physical operators that run Python workers.
_PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)
_MB = 1024.0 * 1024.0
WARM_PASSES = 3
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def family_of(fn) -> str:
    """Package of the engine that defines a registered query."""
    parts = getattr(fn, "__module__", "").split(".")
    return parts[1] if len(parts) > 2 else "other"


def _timing_total_s(rendered: str | None) -> float:
    """Total of a rendered Spark timing metric, in seconds; 0 when absent."""
    m = re.search(r"\n\s*([\d.,]+)\s*(ms|s|m|h)\b", rendered or "")
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def _count(rendered: str | None) -> int:
    digits = re.sub(r"[^\d]", "", (rendered or "").split("\n")[0])
    return int(digits) if digits else 0


class Tracer:
    """Per-layer counters read at query and pass boundaries, plus spans.

    Everything here calls public Python functions of the engine's
    modules, or reads counters Spark and the JVM already keep: the
    status store (jobs, stages, tasks, stage metrics), the SQL status
    store (metrics of Python-worker nodes), the query-planning tracker,
    and the JVM's compilation and garbage-collector beans. Spans are
    kept in memory and returned with the run record.
    """

    def __init__(self, spark, io_mod, staging_mod, scratch_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.io = io_mod
        self.staging = staging_mod
        self.scratch_dir = scratch_dir
        self.spans: list[dict] = []
        self._no_statuses = self.jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)

    # -- pass boundaries -------------------------------------------------
    def _jvm_times(self) -> tuple[float, float]:
        mf = self.jvm.java.lang.management.ManagementFactory
        jit = mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0
        gcs = mf.getGarbageCollectorMXBeans()
        gc = sum(gcs.get(i).getCollectionTime() for i in range(gcs.size())) / 1000.0
        return jit, gc

    def pass_start(self) -> dict:
        jit, gc = self._jvm_times()
        return {
            "jit": jit,
            "gc": gc,
            "io": len(self.io._DF_CACHE),
            "staged": len(self.staging._STAGE_CACHE),
        }

    def pass_end(self, start: dict, layers: dict) -> dict:
        jit, gc = self._jvm_times()
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        cached = sum(infos[i].memSize() + infos[i].diskSize() for i in range(len(infos)))
        layers.update(
            {
                "io.load_misses": len(self.io._DF_CACHE) - start["io"],
                "staging.builds": len(self.staging._STAGE_CACHE) - start["staged"],
                "staging.cached_mb": cached / _MB,
                "jvm.jit_s": jit - start["jit"],
                "jvm.gc_s": gc - start["gc"],
            }
        )
        return layers

    # -- query boundaries ------------------------------------------------
    def catalyst(self, df) -> dict:
        """Optimize and plan the returned DataFrame's own query
        execution and read its planning-tracker phases. The `noop`
        write re-plans the same logical plan, so this costs one extra
        optimization and planning per traced query; the tracing
        overhead reports it. Analysis of the intermediate DataFrames
        a query builds happens inside its build span."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            got = phases.get(phase)
            out[f"catalyst.{phase}_s"] = (
                got.get().durationMs() / 1000.0 if got.isDefined() else 0.0
            )
        return out

    def sql_executions_seen(self) -> int:
        return self.sql_store.executionsCount()

    def jobs(self, group: str) -> dict:
        """Jobs, stages, tasks and stage metrics of one job group."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
            "executor_run_s": 0.0,
        }
        stage_ids: set[int] = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(job_id)
            out["jobs"] += 1
            out["stages"] += job.numCompletedStages()
            out["tasks"] += job.numCompletedTasks()
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            attempts = self.store.stageData(
                sid, False, self._no_statuses, False, self._no_quantiles
            )
            for i in range(attempts.size()):
                st = attempts.apply(i)
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
                out["executor_run_s"] += st.executorRunTime() / 1000.0
        return out

    def python_workers(self, first_execution: int) -> dict:
        """Rows out of, and time inside, Python-worker operators in the
        SQL executions started since `first_execution`."""
        rows, secs = 0, 0.0
        n = self.sql_store.executionsCount() - first_execution
        if n <= 0:
            return {"python_rows": 0, "python_s": 0.0}
        execs = self.sql_store.executionsList(first_execution, n)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if node.name() not in _PYTHON_NODES:
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    got = values.get(m.accumulatorId())
                    text = got.get() if got.isDefined() else None
                    if m.name() == "number of output rows":
                        rows += _count(text)
                    elif m.name() == "time to run Python workers":
                        secs += _timing_total_s(text)
        return {"python_rows": rows, "python_s": secs}

    def bytes_written_since(self, wall_t0: float) -> float:
        """MB of files under the process's engine scratch area (where the
        sources package writes its sink and fixture outputs) modified
        since `wall_t0`."""
        total = 0
        for dirpath, _, files in os.walk(self.scratch_dir):
            for f in files:
                try:
                    st = os.stat(os.path.join(dirpath, f))
                except FileNotFoundError:
                    continue
                if st.st_mtime >= wall_t0:
                    total += st.st_size
        return total / _MB

    def span(self, name: str, t0: float, t1: float, parent: str | None, **attrs) -> str:
        span_id = f"s{len(self.spans)}"
        self.spans.append(
            {"id": span_id, "name": name, "start": t0, "end": t1, "parent": parent, **attrs}
        )
        return span_id


def _peak_rss_mb(jvm) -> float:
    """High-water RSS of the driver JVM plus this Python driver, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


class Runner:
    def __init__(self, args):
        self.args = args
        self.root = os.getcwd()
        sys.path.insert(0, self.root)
        sys.path.insert(0, os.path.join(self.root, "scripts"))
        from job_market_research_spark import io, registry, staging
        from job_market_research_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{args.workload}")
        t1 = time.perf_counter()
        self.specs = registry.load_all()
        t2 = time.perf_counter()
        self.setup_s = time.time() - args.spawned_at
        self.setup_layers = {
            "session.get_spark_s": t1 - t0,
            "registry.load_all_s": t2 - t1,
        }
        self.sc = self.spark.sparkContext
        scratch = os.path.join(self.root, ".scratch", f"pid{os.getpid()}")
        self.tracer = Tracer(self.spark, io, staging, scratch) if args.trace else None
        self.failures: list[dict] = []
        self.ops_total = 0

    def _fail(self, op: str, name: str, exc: BaseException | str) -> None:
        text = exc if isinstance(exc, str) else "".join(
            traceback.format_exception_only(type(exc), exc)
        ).strip()
        self.failures.append({"op": op, "query": name, "error": text[-2000:]})
        print(f"perfbench: {op} {name} failed: {text[-2000:]}", file=sys.stderr)

    def run_pass(self, index: int, names: list[str], traced: bool) -> tuple[dict, dict]:
        """One pass over `names`; returns (pass record, DataFrames built)."""
        tr = self.tracer if traced else None
        kind = "cold" if index == 0 else "warm"
        start = tr.pass_start() if tr else None
        layers: dict = {}
        queries, frames = [], {}
        t_pass = time.perf_counter()
        for name in names:
            spec = self.specs[name]
            fam = family_of(spec.fn)
            self.ops_total += 1
            row = {"name": name, "family": fam, "ok": True}
            try:
                if tr:
                    row.update(self._traced_query(tr, index, kind, name, fam, spec, frames, layers))
                else:
                    t0 = time.perf_counter()
                    df = spec.fn(self.spark, self.args.data)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    frames[name] = df
                    row.update(build_s=t1 - t0, exec_s=t2 - t1)
            except Exception as exc:  # one failed query must not end the run
                row["ok"] = False
                self._fail(f"{kind}-pass", name, exc)
            queries.append(row)
        wall = time.perf_counter() - t_pass
        record = {"index": index, "kind": kind, "traced": traced, "wall_s": wall, "queries": queries}
        if tr:
            record["layers"] = tr.pass_end(start, layers)
        return record, frames

    def _traced_query(self, tr: Tracer, index, kind, name, fam, spec, frames, layers) -> dict:
        group = f"{index}:{name}"

        def add(key: str, value: float) -> None:
            layers[key] = layers.get(key, 0) + value

        first_exec = tr.sql_executions_seen()
        wall0 = time.time()
        t0 = time.perf_counter()
        self.sc.setJobGroup(f"{group}:build", name)
        df = spec.fn(self.spark, self.args.data)
        t1 = time.perf_counter()
        cat = tr.catalyst(df)
        t2 = time.perf_counter()
        self.sc.setJobGroup(f"{group}:execute", name)
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        frames[name] = df
        built = tr.jobs(f"{group}:build")
        ran = tr.jobs(f"{group}:execute")
        py = tr.python_workers(first_exec)
        written = tr.bytes_written_since(wall0)

        for prefix in ("query", fam) if fam in FAMILIES else ("query",):
            add(f"{prefix}.build_s", t1 - t0)
            add(f"{prefix}.build_jobs", built["jobs"])
            add(f"{prefix}.exec_s", t3 - t2)
        for k, v in cat.items():
            add(k, v)
        for k in ("jobs", "stages", "tasks", "shuffle_write_mb", "spill_mb", "executor_run_s"):
            add(f"spark.{k}", built[k] + ran[k])
        add("functions.python_rows", py["python_rows"])
        add("functions.python_s", py["python_s"])
        add("sources.bytes_written_mb", written)

        attrs = {"workload": self.args.workload, "pass": index, "phase": kind, "family": fam}
        qid = tr.span(name, t0, t3, None, **attrs, jobs=built["jobs"] + ran["jobs"])
        tr.span("build", t0, t1, qid, **attrs, jobs=built["jobs"])
        tr.span("catalyst", t1, t2, qid, **attrs, **cat)
        tr.span("execute", t2, t3, qid, **attrs, jobs=ran["jobs"], stages=ran["stages"], tasks=ran["tasks"])
        return {"build_s": t1 - t0, "exec_s": t3 - t2}

    def check(self, frames: dict) -> list[dict]:
        """Untimed: canonicalise each query's output as the driver-hash
        simulation does and compare it with the DuckDB oracle twin."""
        import duckdb
        from driver_hash_sim import _hash_frame

        from job_market_research_spark.io import TABLES, table_path

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(self.args.data, t)}')"
            )
        self.sc.setJobGroup("check", "oracle check")
        checks = []
        for name in sorted(frames):
            self.ops_total += 1
            oracle = self.specs[name].oracle
            try:
                got = frames[name].toPandas()
                if oracle is None:
                    raise ValueError("query has no oracle twin")
                want = con.sql(oracle).df()
                if len(want) == 0:
                    raise ValueError("oracle returned no rows")
                ok = _hash_frame(got) == _hash_frame(want)
                if not ok:
                    self._fail("check", name, f"oracle mismatch ({len(got)} vs {len(want)} rows)")
                checks.append({"name": name, "ok": ok, "rows": len(got)})
            except Exception as exc:
                self._fail("check", name, exc)
                checks.append({"name": name, "ok": False, "rows": None})
        con.close()
        return checks

    def stamps(self) -> dict:
        from bench import _versions

        return {
            "default_parallelism": self.sc.defaultParallelism,
            "master": self.sc.master,
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "versions": _versions(),
        }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data", required=True)
    p.add_argument("--spawned-at", type=float, required=True)
    args = p.parse_args(argv)

    workload = WORKLOADS[args.workload]
    r = Runner(args)
    cold, frames = r.run_pass(0, pass_order(workload, args.seed, 0), traced=bool(args.trace))
    passes = [cold]
    t_check = time.perf_counter()
    checks = r.check(frames)
    check_s = time.perf_counter() - t_check
    del frames

    # At least WARM_PASSES warm passes, then more until `--seconds` of
    # warm-pass time is measured: a warm pass lasts a few seconds, and
    # the host's speed swings on that scale. A traced run instead
    # alternates untraced and traced passes in ABBA order, so that the
    # JIT's progress from pass to pass cancels out of the tracing
    # overhead.
    plan = (False, True, True, False) if args.trace else (False,) * WARM_PASSES
    warm_s = 0.0
    for index in itertools.count(1):
        traced = plan[index - 1] if index <= len(plan) else False
        rec, _ = r.run_pass(index, pass_order(workload, args.seed, index), traced)
        passes.append(rec)
        warm_s += rec["wall_s"]
        if index >= len(plan) and warm_s >= args.seconds:
            break

    record = {
        "kind": "perfbench-child",
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup_s": r.setup_s,
        "setup_layers": r.setup_layers,
        "stamps": r.stamps(),
        "passes": passes,
        "checks": checks,
        "check_s": check_s,
        "ops_total": r.ops_total,
        "failures": r.failures,
        "peak_rss_mb": _peak_rss_mb(r.sc._jvm),
        "spans": r.tracer.spans if r.tracer else [],
    }
    gateway = r.sc._gateway
    r.spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
