#!/usr/bin/env python3
"""KG-job benchmark: times the deployed KG job and the training-set path on
seeded inputs, from outside the program, and checks every output.

    python3 perfbench/run.py --workload kg_bigdict_model --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one process each

Run it from anywhere; it works in the checkout that contains it. One run:

1. generates the workload's inputs from ``--seed`` (cached as parquet under
   ``.perfbench/inputs``) and asserts the input properties it relies on;
2. starts a ``local[nproc]`` session (``$SPARK_GRAFT_CPUS`` when set) and runs
   one untimed cold job: ``setup_s`` is process start to ready session plus
   that job, minus input generation;
3. runs warm jobs back to back (a closed loop, one job at a time, fresh
   output and staging dirs and a cleared cache each time) while fewer than
   ``--seconds`` have passed, at least one, and compares every job's
   per-table row count and xxhash64 sum with the cold job's, whose outputs
   passed the oracle checks;
4. with ``--trace 1``, also runs the job staged, one layer at a time under a
   Spark job group per layer with the event log on, checks its outputs equal
   the fused job's, and reports the per-layer metrics instead of the
   end-to-end ones.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import meter
from tracing import EXTRA_METRICS, LAYER_METRICS, LAYERS, Tracer, layer_metrics, rollup_event_log

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("kg_refdict", "kg_bigdict_model", "kg_resume", "corpus_nerset")
# every run must end within this many seconds; new jobs are not started
# when the last job's duration says they would overrun it
RUN_BUDGET_S = 170.0
DRIVER_MEMORY = "3g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="measurement window; at least one warm job always runs")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_all(args) -> int:
    """Each workload in its own process (a fresh JVM, as a submitted job gets)."""
    results = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(f"[{name}] {line}" for line in lines[:-1]), flush=True)
        results[name] = json.loads(lines[-1]) if proc.returncode == 0 and lines else {
            "correct": False, "exit_code": proc.returncode}
    print(json.dumps(results))
    return 0 if all(r.get("correct") for r in results.values()) else 1


def cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def start_session(run_dir: Path, trace: bool):
    from otar3088_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (run_dir / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while meter.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in meter.descendants():
        os.kill(pid, signal.SIGKILL)
    for pid in meter.descendants():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


class Run:
    """One benchmark run of one workload."""

    def __init__(self, args, t_start: float):
        self.args = args
        self.t_start = t_start
        self.work = ROOT / ".perfbench"
        self.run_dir = self.work / f"run-{os.getpid()}"
        self.attempted = 0
        self.failed_jobs: set[int] = set()
        self.reference_bad = False
        self.problems: list[str] = []
        self.n_dirs = 0

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start

    def fresh_dirs(self, resume_staging: str | None = None) -> tuple[str, str]:
        """A new output dir, and a new staging dir unless one is given."""
        self.n_dirs += 1
        return (str(self.run_dir / f"out{self.n_dirs}"),
                resume_staging or str(self.run_dir / f"staging{self.n_dirs}"))

    def fail(self, what: str) -> None:
        """Record a problem with the job that ran last."""
        self.failed_jobs.add(self.attempted)
        self.problems.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def job(self, w, out, staging, ref) -> bool:
        """Run one job; True when its outputs equal the reference's."""
        self.attempted += 1
        try:
            w.run_job(out, staging)
        except Exception:
            self.fail(f"job {self.attempted} raised:\n{traceback.format_exc()}")
            return False
        if ref is not None and (got := w.fingerprints(out)) != ref:
            self.fail(f"job {self.attempted} outputs differ from the first job's: {got} != {ref}")
            return False
        return True

    def execute(self) -> tuple[dict, int]:
        """Metrics as ``{name: (value, unit)}`` and the number of timed jobs."""
        import workloads

        args = self.args
        self.run_dir.mkdir(parents=True)
        (self.run_dir / "tmp").mkdir()
        t_inputs = self.elapsed()
        paths, stats = workloads.prepare_inputs(args.workload, args.seed,
                                                str(self.work / "inputs"))
        print(f"perfbench: inputs {json.dumps(stats)}", flush=True)
        t_session = self.elapsed()
        spark = start_session(self.run_dir, bool(args.trace))
        t_ready = self.elapsed()
        try:
            w = workloads.WORKLOADS[args.workload](spark, str(ROOT), paths, args.seed,
                                                   str(self.run_dir))
            with meter.PeakMemory() as mem:
                out, staging = self.fresh_dirs()
                t0 = time.perf_counter()
                if not self.job(w, out, staging, None):
                    raise RuntimeError("the cold job failed; nothing to measure")
                cold_s = time.perf_counter() - t0
                ref = w.fingerprints(out)
                problems = w.deep_check(out)
                for p in problems:
                    self.fail(p)
                # later jobs are compared with this one: if it is wrong, so are they
                self.reference_bad = bool(problems)
                shutil.rmtree(out)
                resume_staging = staging
                setup_s = t_inputs + (t_ready - t_session) + cold_s
                jobs = self.timed_jobs(w, ref, resume_staging)
            layer = self.staged(w, spark, ref, resume_staging, jobs) if args.trace else None
        finally:
            stop_session(spark)
        if layer is not None:
            return self.layer_result(layer)
        return {
            "job_s": (statistics.median([j["job_s"] for j in jobs]), "s"),
            "cpu_s": (statistics.median([j["cpu_s"] for j in jobs]), "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (mem.peak / 2**20, "MB"),
            "out_bytes": (statistics.median([j["out_bytes"] for j in jobs]), "bytes"),
        }, len(jobs)

    def timed_jobs(self, w, ref, resume_staging) -> list[dict]:
        spark = w.spark
        jobs: list[dict] = []
        t_loop = time.perf_counter()
        # a traced run still has the staged job (~2 warm jobs) ahead of it
        reserve = 3.0 if self.args.trace else 1.0
        while not jobs or (time.perf_counter() - t_loop < self.args.seconds and
                           self.elapsed() + reserve * jobs[-1]["job_s"] + 15 < RUN_BUDGET_S):
            spark.catalog.clearCache()
            out, staging = self.fresh_dirs(None if w.fresh_staging else resume_staging)
            cpu0 = meter.tree_cpu_s()
            t0 = time.perf_counter()
            self.job(w, out, staging, ref)
            job_s = time.perf_counter() - t0
            jobs.append({"job_s": job_s, "cpu_s": meter.tree_cpu_s() - cpu0,
                         "out_bytes": w.written_bytes(out, staging)})
            print(f"perfbench: warm job {len(jobs)}: {json.dumps(jobs[-1])}", flush=True)
            shutil.rmtree(out, ignore_errors=True)
            if w.fresh_staging:
                shutil.rmtree(staging, ignore_errors=True)
        return jobs

    def staged(self, w, spark, ref, resume_staging, jobs) -> dict:
        spark.catalog.clearCache()
        tr = Tracer(spark)
        out, staging = self.fresh_dirs(None if w.fresh_staging else resume_staging)
        self.attempted += 1
        violations = w.staged(tr, out, staging)
        if violations:
            self.fail(f"validate_alignment found {violations} misaligned spans")
        if (got := w.fingerprints(out)) != ref:
            self.fail(f"staged outputs differ from the fused job's: {got} != {ref}")
        root = next(s for s in tr.spans if s["parent"] is None)
        total = root["end"] - root["start"]
        layers = sum(s["end"] - s["start"] for s in tr.spans if s["parent"] is not None)
        if abs(layers - total) > 0.1 * total:
            self.fail(f"layer wall times sum to {layers:.3f} s, staged total {total:.3f} s")
        return {"tracer": tr, "staged_s": total,
                "overhead_s": total - statistics.median([j["job_s"] for j in jobs])}

    def layer_result(self, layer: dict) -> tuple[dict, int]:
        (log,) = (self.run_dir / "eventlog").iterdir()
        rollup = rollup_event_log(str(log))
        tr = layer["tracer"]
        values = layer_metrics(tr.spans, rollup)
        values["trace.staged_s"] = layer["staged_s"]
        values["trace.overhead_s"] = layer["overhead_s"]
        traces = self.work / "traces"
        traces.mkdir(exist_ok=True)
        tr.dump(str(traces / f"{self.args.workload}-s{self.args.seed}.json"))
        units = {f"{la}.{m}": u for la in LAYERS for m, u in LAYER_METRICS}
        units.update(EXTRA_METRICS)
        return {k: (v, units[k]) for k, v in values.items()}, 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if not (ROOT / "otar3088_spark" / "__init__.py").is_file() or not (
            ROOT / "jobs" / "kg_submit.py").is_file():
        print(f"perfbench: the program's sources (otar3088_spark/, jobs/kg_submit.py) are "
              f"not in {ROOT}; run the benchmark from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT)]
    # Python workers import the package by path, whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    run = Run(args, time.perf_counter() - meter.process_age_s())
    # keep every file inside the checkout: temp files, and no JVM perf-data
    # file in the system temp dir (for the launcher JVM too, hence the env)
    os.environ["TMPDIR"] = str(run.run_dir / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o)
    try:
        metrics, n = run.execute()
    finally:
        shutil.rmtree(run.run_dir, ignore_errors=True)
    failed = run.attempted if run.reference_bad else len(run.failed_jobs)
    tag = f"perfbench: {args.workload} seed={args.seed}"
    for name, (value, unit) in metrics.items():
        print(f"{tag} {name} = {value:.6g} {unit}"
              f"{f' (median of {n} jobs)' if name in ('job_s', 'cpu_s', 'out_bytes') else ''}")
    print(f"{tag} error_rate = {failed}/{run.attempted} jobs; correct = {not run.problems}")
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
