#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, cold and warm passes.

    python3 perfbench/run.py --workload geo_marts --seed 1 --seconds 10 --trace 0

Run from the repository root. One run:

1. generates the workload's inputs from ``--seed`` (harness work, in a
   child process, counted in no metric);
2. starts one fresh ``local[nproc]`` session (JVM launch, ``get_spark``
   and one warm-up job);
3. runs one cold pass of the workload's queries, then warm passes in the
   same session until ``--seconds`` have passed since the cold pass began
   and at least one warm pass has run;
4. after the timed region, checks every query execution's output
   against the registry's DuckDB oracle;
5. prints a detail record (environment, inputs, per-query times, metric
   medians with their high percentile and sample count) and, as the last
   line, ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` the cold pass and every other warm pass are traced (spans,
job groups, planning read, /proc reads, and the live JVM heap after a
full GC outside the pass's time) and the metrics are the per-layer ones;
the untraced warm passes in between give the tracing overhead. Spans are written to
``.perfbench_work/traces/``.

All timing is from outside the program, around calls into its public
functions: ``session.get_spark``, ``QUERIES[name](spark, dir)``, the
action (``collect``) or ``sources.io.write_parquet``, and
``pipeline.DAG.run``. Every file the run writes stays under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

import measure
from measure import CpuMeter, Tracer
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WARMUP_ROWS = 100_000
DEADLINE_S = 135        # no query starts after this (from process start)
CANCEL_S = 140          # running jobs are cancelled after this

END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "query_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "mem.peak_rss_mb": "MB",
    "build.s.cold": "s", "build.s.warm": "s",
    "build.jobs.cold": "count", "build.jobs.warm": "count",
    "build.stages.cold": "count", "build.stages.warm": "count",
    "plan.s.cold": "s", "plan.s.warm": "s", "plan.exchanges": "count",
    "exec.s.cold": "s", "exec.s.warm": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.cpu_util": "ratio",
    "cpu.pyworker_s.cold": "s", "cpu.pyworker_s.warm": "s",
    "cpu.driver_py_s.cold": "s", "cpu.driver_py_s.warm": "s",
    "cpu.jvm_s.cold": "s", "cpu.jvm_s.warm": "s",
    "mem.jvm_hwm_mb": "MB", "mem.heap_used_mb": "MB",
    "dag.task_s": "s", "dag.retries": "count", "dag.overlap": "ratio",
    "sink.files": "count", "sink.bytes": "bytes",
    "oracle.mismatches": "count", "errors": "count",
    "trace.overhead_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="least length of the timed region (cold pass "
                         "included)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplier on the workload's row counts")
    return ap.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Point every temporary path of Python, Spark and the JVM into
    ``run_dir``. Must run before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{java_opts}' pyspark-shell")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Watchdog:
    """Cancels running Spark jobs once the run is past ``CANCEL_S``, so a
    runaway query ends as a timeout instead of overrunning the run."""

    def __init__(self, t_start: float):
        self.t_start = t_start
        self.fired = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._watch, daemon=True)
        self.spark = None

    def start(self, spark) -> None:
        self.spark = spark
        self._thread.start()

    def expired(self) -> bool:
        return self.fired or time.monotonic() - self.t_start > DEADLINE_S

    def _watch(self) -> None:
        wait = CANCEL_S - (time.monotonic() - self.t_start)
        if self._stop.wait(max(0.0, wait)):
            return
        self.fired = True
        while not self._stop.wait(0.5):
            self.spark.sparkContext.cancelAllJobs()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)


class Bench:
    def __init__(self, args, spec, manifest, data_dir, out_dir, watchdog):
        self.args, self.spec, self.manifest = args, spec, manifest
        self.data_dir, self.out_dir = data_dir, out_dir
        self.watchdog = watchdog
        self.tracer = Tracer(enabled=False)

    # ------------------------------------------------------------ set-up
    def setup(self):
        """One fresh ``local[nproc]`` session: JVM launch, ``get_spark``
        and one warm-up job, the cost every ``spark-submit`` pays."""
        from hdfs_with_pyspark_spark.session import get_spark
        self.tracer.enabled = bool(self.args.trace)
        with self.tracer.span("session"):
            t0 = time.perf_counter()
            spark = get_spark("perfbench", master=f"local[{nproc()}]")
            t1 = time.perf_counter()
            spark.range(WARMUP_ROWS, numPartitions=nproc()) \
                .selectExpr("sum(id)").collect()
            t2 = time.perf_counter()
        self.start_s, self.setup_s = t1 - t0, t2 - t0
        self.spark = spark
        self.jvm_pid = measure.jvm_pid(spark)
        self.cpu = CpuMeter(self.jvm_pid)
        return spark

    # ------------------------------------------------------------ passes
    def run_passes(self) -> list[dict]:
        """One cold pass, then warm passes until ``--seconds`` have passed
        and at least one warm pass has run. In a traced run the cold pass
        and every other warm pass are traced, and at least one warm pass
        of each kind runs. With ``--seconds`` below the cold pass's time
        every run makes the same passes, so its warm median never mixes
        the first warm pass (still slower) with later ones."""
        passes = []
        t0 = time.perf_counter()
        min_warm = 2 if self.args.trace else 1
        while not self.watchdog.expired():
            p = len(passes)
            traced = bool(self.args.trace) and p % 2 == 0
            passes.append(self.run_pass(p, traced))
            if (time.perf_counter() - t0 >= self.args.seconds
                    and len(passes) > min_warm):
                break
        return passes

    def run_pass(self, p: int, traced: bool) -> dict:
        self.tracer.enabled = traced
        cpu0 = self.cpu.read() if traced else None
        with self.tracer.span("pass", query=f"pass#{p}") as span:
            t0 = time.perf_counter()
            if self.spec.sink:
                runs, dag = self._dag_pass(p, traced, span.id)
            else:
                runs, dag = [self._collect_query(q, p, traced)
                             for q in self.spec.queries], None
            wall = time.perf_counter() - t0
        rec = {"pass": p, "traced": traced, "wall_s": wall, "runs": runs,
               "dag": dag}
        if traced:
            rec["cpu"] = CpuMeter.delta(cpu0, self.cpu.read())
            # a full GC, outside the pass's time; untraced passes keep
            # the heap the program leaves behind
            rec["heap_used_mb"] = measure.heap_used_mb(self.spark)
        self.tracer.enabled = False
        return rec

    def _timeout_run(self, q: str, p: int) -> dict:
        return {"query": q, "pass": p, "ok": False, "timeout": True,
                "errors": 0, "wall_s": 0.0,
                "error": "timeout: not started before the run deadline"}

    def _execute(self, q: str, p: int, traced: bool, parent: int | None,
                 rec: dict, sink_path: str | None):
        """Constructor, optional planning read, then the action or the
        write; raises what the program raises."""
        from hdfs_with_pyspark_spark.plans.registry import QUERIES
        spark, tr, qid = self.spark, self.tracer, f"{q}#{p}"
        sc = spark.sparkContext
        t0 = time.perf_counter()
        with tr.span("build", qid, parent=parent) as sp:
            if traced:
                sc.setJobGroup(f"{qid}:build", "perfbench build")
            df = QUERIES[q](spark, self.data_dir)
        t1 = time.perf_counter()
        rec["build_s"] = t1 - t0
        if traced:
            sp.set(**measure.group_counts(spark, f"{qid}:build"))
            rec["build"] = sp.attrs
            with tr.span("plan", qid, parent=parent):
                measure.force_planning(df)
            t1 = time.perf_counter()
        with tr.span("action", qid, parent=parent) as sp:
            if traced:
                sc.setJobGroup(f"{qid}:action", "perfbench action")
            if sink_path is not None:
                from hdfs_with_pyspark_spark.sources.io import write_parquet
                write_parquet(df, sink_path)
                result = None
            else:
                result = (df.columns, [tuple(r) for r in df.collect()])
        t2 = time.perf_counter()
        rec["exec_s"] = t2 - t1
        if traced:
            sp.set(**measure.group_counts(spark, f"{qid}:action"))
            rec["exec"] = sp.attrs
            rec["plan_s"] = measure.plan_phases_s(df)
            rec["exchanges"] = measure.plan_exchanges(df)
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result

    def _collect_query(self, q: str, p: int, traced: bool) -> dict:
        if self.watchdog.expired():
            return self._timeout_run(q, p)
        rec = {"query": q, "pass": p, "ok": False, "errors": 0}
        t0 = time.perf_counter()
        try:
            rec["result"] = self._execute(q, p, traced, None, rec, None)
            rec["ok"] = True
        except Exception as e:  # noqa: BLE001 — counted as a failure
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            rec["timeout"] = self.watchdog.fired
            rec["errors"] = 0 if rec["timeout"] else 1
        rec["wall_s"] = time.perf_counter() - t0
        return rec

    def _dag_pass(self, p: int, traced: bool, parent: int | None):
        from hdfs_with_pyspark_spark.pipeline import DAG, Task
        dag = DAG(f"perfbench-{p}")
        recs: dict[str, dict] = {}

        def task(q: str):
            def fn():
                if self.watchdog.expired():
                    raise TimeoutError("not started before the run deadline")
                rec = recs.setdefault(q, {"query": q, "pass": p, "attempts": []})
                t0 = time.perf_counter()
                with self.tracer.span("dag_task", f"{q}#{p}", parent=parent) as sp:
                    try:
                        self._execute(q, p, traced, sp.id, rec,
                                      os.path.join(self.out_dir, f"p{p}", q))
                    finally:
                        rec["attempts"].append(time.perf_counter() - t0)
            return fn

        for q in self.spec.queries:
            # one retry, like the marts entry point; every failed attempt
            # still counts as an error
            dag.add(Task(q, task(q), retries=1, retry_delay=0.1))
        reports = dag.run(raise_on_failure=False)
        runs = []
        for q in self.spec.queries:
            rep = reports[q]
            rec = recs.get(q, {"query": q, "pass": p, "attempts": []})
            success = rep.state.value == "success"
            timeout = not success and (self.watchdog.fired
                                       or "TimeoutError" in (rep.error or ""))
            rec.update(ok=success and rep.attempts == 1,
                       wall_s=sum(rec["attempts"]), task_s=rep.seconds,
                       retries=max(0, rep.attempts - 1), timeout=timeout,
                       error=rep.error if rep.attempts > 1 or not success else None,
                       errors=rep.attempts - (1 if success or timeout else 0))
            runs.append(rec)
        return runs, {q: {"state": r.state.value, "attempts": r.attempts,
                          "seconds": r.seconds} for q, r in reports.items()}

    # ------------------------------------------------------------ checks
    def check(self, passes: list[dict], oracles: dict) -> dict:
        """Compare every successful execution's output with its oracle
        digest; marks mismatches in place and returns the digests."""
        import oracle
        expected = oracle.expected_digests(
            oracles, self.spec.queries, self.manifest, self.data_dir,
            os.path.join(WORK, "oracle-cache"))
        for ps in passes:
            for run in ps["runs"]:
                if not run["ok"]:
                    continue
                exp = expected[run["query"]]
                try:
                    if self.spec.sink:
                        got = oracle.parquet_digest(os.path.join(
                            self.out_dir, f"p{ps['pass']}", run["query"]))
                    else:
                        got = oracle.digest(*run.pop("result"))
                except Exception as e:  # noqa: BLE001
                    got = f"error: readback failed: {type(e).__name__}: {e}"
                if got != exp:
                    run["ok"] = False
                    run["mismatch"] = (exp if exp.startswith("error")
                                       else "output differs from the oracle")
        return expected


# ---------------------------------------------------------------- report
def sink_stats(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    return files, nbytes


def med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def end_to_end(bench: Bench, passes: list[dict], rss: dict) -> dict:
    """Every end-to-end figure with its unit, median, high percentile and
    sample count. ``query_s`` takes every execution of every pass; as
    each run makes the same passes, its sample always holds the same
    mix of cold and warm queries. ``peak_rss_mb`` and ``failed_frac``
    are printed here but not gated: the JVM's heap sizing moves peak RSS
    by a third between identical runs, and a failure rate of 0 has no
    ratio bound."""
    runs = [r for ps in passes for r in ps["runs"]]
    timed = [r["wall_s"] for r in runs if not r.get("timeout")]
    figures = {
        "setup_s": ("s", [bench.setup_s]),
        "cold_pass_s": ("s", [passes[0]["wall_s"]]),
        "warm_pass_s": ("s", [ps["wall_s"] for ps in passes[1:]]),
        "query_s": ("s", timed),
        "peak_rss_mb": ("MB", [rss["jvm"] + rss["python"]]),
    }
    out = {k: {"unit": u, **measure.summary(v)} for k, (u, v) in figures.items()}
    out["failed_frac"] = {"unit": "ratio", "n": len(runs), "median":
                          sum(not r["ok"] for r in runs) / max(1, len(runs))}
    return out


def per_layer(bench: Bench, passes: list[dict], rss: dict) -> dict:
    traced = [ps for ps in passes if ps["traced"]]
    cold, warm = traced[0], traced[1:] or traced[:1]
    untraced_warm = [ps for ps in passes[1:] if not ps["traced"]]
    ncpu = nproc()

    def total(ps, key, sub=None):
        vals = [(r.get(key) or {}).get(sub, 0) if sub else r.get(key, 0.0)
                for r in ps["runs"]]
        return sum(vals)

    def warm_med(fn):
        return med(fn(ps) for ps in warm)

    out = {"session.start_s": bench.start_s,
           "mem.peak_rss_mb": rss["jvm"] + rss["python"]}
    for name, key, sub in (("build.s", "build_s", None),
                           ("build.jobs", "build", "jobs"),
                           ("build.stages", "build", "stages"),
                           ("plan.s", "plan_s", None),
                           ("exec.s", "exec_s", None)):
        out[f"{name}.cold"] = total(cold, key, sub)
        out[f"{name}.warm"] = warm_med(lambda ps: total(ps, key, sub))
    out["plan.exchanges"] = warm_med(lambda ps: total(ps, "exchanges"))
    for sub in ("jobs", "stages", "tasks"):
        out[f"exec.{sub}"] = warm_med(lambda ps: total(ps, "exec", sub))
    out["exec.cpu_util"] = warm_med(
        lambda ps: (ps["cpu"]["jvm"] + ps["cpu"]["pyworker"])
        / (ps["wall_s"] * ncpu))
    for k in ("pyworker", "driver_py", "jvm"):
        out[f"cpu.{k}_s.cold"] = cold["cpu"][k]
        out[f"cpu.{k}_s.warm"] = warm_med(lambda ps: ps["cpu"][k])
    out["mem.jvm_hwm_mb"] = rss["jvm"]
    out["mem.heap_used_mb"] = traced[-1]["heap_used_mb"]
    out["dag.task_s"] = warm_med(lambda ps: total(ps, "task_s"))
    out["dag.retries"] = sum(r.get("retries", 0)
                             for ps in passes for r in ps["runs"])
    out["dag.overlap"] = warm_med(lambda ps: total(ps, "task_s") / ps["wall_s"])
    files = [sink_stats(os.path.join(bench.out_dir, f"p{ps['pass']}"))
             for ps in warm]
    out["sink.files"] = med(f for f, _ in files)
    out["sink.bytes"] = med(b for _, b in files)
    runs = [r for ps in passes for r in ps["runs"]]
    out["oracle.mismatches"] = sum(1 for r in runs if r.get("mismatch"))
    out["errors"] = sum(r["errors"] for r in runs)
    out["trace.overhead_s"] = (warm_med(lambda ps: ps["wall_s"])
                               - med(ps["wall_s"] for ps in untraced_warm))
    return out


def per_query(passes: list[dict]) -> dict:
    out: dict[str, dict] = {}
    for ps in passes:
        for r in ps["runs"]:
            q = out.setdefault(r["query"], {"cold_s": None, "warm_s": [],
                                            "build_s": [], "exec_s": []})
            if ps["pass"] == 0:
                q["cold_s"] = r["wall_s"]
            else:
                q["warm_s"].append(r["wall_s"])
            for k in ("build_s", "exec_s"):
                if k in r:
                    q[k].append(r[k])
    for q in out.values():
        q["warm_s"] = med(q["warm_s"]) if q["warm_s"] else None
        q["build_s"] = [round(x, 4) for x in q["build_s"]]
        q["exec_s"] = [round(x, 4) for x in q["exec_s"]]
    return out


def environment(spark, args, manifest) -> dict:
    import pyspark
    env = {
        "nproc": nproc(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": None,
        "seed": args.seed, "scale": args.scale, "rows": manifest["rows"],
        "params": manifest["params"],
    }
    try:
        res = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
        env["git_commit"] = res.stdout.strip() if res.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        pass  # no git: the commit stays unknown
    return env


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited, which it does once
    the gateway's stdin pipe closes, so a run leaves no process behind."""
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — a dead JVM is already stopped
        traceback.print_exc()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ---------------------------------------------------------------- main
def main(argv=None) -> int:
    t_start = time.monotonic()
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    spec = WORKLOADS[args.workload]

    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    try:
        isolate(run_dir)
        try:
            from hdfs_with_pyspark_spark.plans import registry
            import oracle  # noqa: F401 — needs scripts/check_oracle_parity
        except ImportError as e:
            print(f"perfbench: cannot import the program from {ROOT}: {e}",
                  file=sys.stderr)
            return 2
        registry.finalize_order()
        # harness phases, seconds since start: where a run's time goes
        timeline = {"imports": time.monotonic() - t_start}
        missing = [q for q in spec.queries if q not in registry.QUERIES]
        if missing:
            print(f"perfbench: queries not registered: {missing}", file=sys.stderr)
            return 2

        data_dir = os.path.join(run_dir, "inputs")
        subprocess.run([sys.executable, os.path.join(HERE, "workloads.py"),
                        "--workload", args.workload, "--seed", str(args.seed),
                        "--scale", str(args.scale), "--out", data_dir],
                       check=True)
        with open(os.path.join(data_dir, "manifest.json")) as f:
            manifest = json.load(f)
        timeline["inputs"] = time.monotonic() - t_start

        watchdog = Watchdog(t_start)
        bench = Bench(args, spec, manifest, data_dir,
                      os.path.join(run_dir, "out"), watchdog)
        spark = bench.setup()
        timeline["setup"] = time.monotonic() - t_start
        try:
            watchdog.start(spark)
            passes = bench.run_passes()
            watchdog.stop()
            timeline["passes"] = time.monotonic() - t_start
            rss = {"jvm": measure.vm_hwm_mb(bench.jvm_pid),
                   "python": measure.vm_hwm_mb(os.getpid())}
            expected = bench.check(passes, registry.ORACLES)
            timeline["check"] = time.monotonic() - t_start
            env = environment(spark, args, manifest)
            env["harness_timeline_s"] = timeline
        finally:
            watchdog.stop()
            stop_session(spark)
        return report(bench, passes, rss, expected, env, args)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(bench, passes, rss, expected, env, args) -> int:
    runs = [r for ps in passes for r in ps["runs"]]
    attempted = len(bench.spec.queries) * len(passes)
    failed = sum(1 for r in runs if not r["ok"])
    e2e = end_to_end(bench, passes, rss)
    detail = {
        "workload": args.workload, "env": env,
        "closed_loop": "one client, one query or DAG pass at a time",
        "passes": [{k: ps.get(k) for k in ("pass", "traced", "wall_s", "dag",
                                           "cpu", "heap_used_mb")}
                   for ps in passes],
        "per_query": per_query(passes),
        "end_to_end": e2e,
        "failures": [{k: r.get(k) for k in ("query", "pass", "error",
                                             "mismatch", "timeout")}
                     for r in runs if not r["ok"]],
        "expected_digests": expected,
    }
    if args.trace:
        metrics = per_layer(bench, passes, rss)
        detail["self_s"] = bench.tracer.self_times()
        path = os.path.join(WORK, "traces",
                            f"{args.workload}-s{args.seed}-{os.getpid()}.json")
        bench.tracer.write(path)
        detail["trace_file"] = os.path.relpath(path, ROOT)
        units = PER_LAYER
    else:
        metrics = {k: v["median"] for k, v in e2e.items()}
        units = END_TO_END
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
