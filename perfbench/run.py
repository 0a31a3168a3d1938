#!/usr/bin/env python3
"""Benchmark: one workload, one seed, one Spark driver process.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 12 --trace 0

Stages seeded inputs, starts the engine's session, and runs the
workload's operations in passes: pass 1 on a cold JVM, then warm passes.
The number of warm passes is `--seconds` divided by the workload's nominal
pass time (at least 3): it never depends on how fast this run is, since
passes still speed up with JIT warm-up and a speed-dependent count would
shift the median. Every pass reads its own row-permuted copy of the
inputs. Every operation's output is checked against a reference computed
outside the timed intervals.

--trace 0 prints the end-to-end metrics; --trace 1 runs the same
passes, then restarts the session with the event log, job groups and a
streaming listener on, and prints the per-layer metrics. The last stdout
line is one JSON object; a fuller artifact (run labels, per-pass data,
spans) goes to .perfbench_out/. All scratch state lives under
.perfbench_tmp/ and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
if str(ROOT) not in sys.path:  # run as a script: make `perfbench` and the engine importable
    sys.path.insert(0, str(ROOT))

# stdlib-only modules; the engine (and numpy, pyarrow) is first imported
# inside session_setup.start, where the import is timed
from perfbench import procstat, session_setup, trace  # noqa: E402

PKG = "dais2021imageprocessingondeltalake_spark"
DRIVER_MEM = "2g"  # set explicitly: the engine's 16g default exceeds a 15 GB host
MIN_WARM_PASSES = 3  # pass 2 is still warming up; a median of 3+ leaves it out
OP_TIMEOUT_S = 60.0  # an operation slower than this counts as failed
PASS_BUDGET_S = 120.0  # no new pass starts after this much run time

QUERY_PHASES = ("build", "plan", "exec")
PLAN_PHASES = ("ingest", "trainprep", "read_batches", "inference_batch", "inference_stream")
END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "session.import_s": "s", "session.start_s": "s",
    **{f"queries.{ph}_s": "s" for ph in QUERY_PHASES}, "queries.eager_jobs": "count",
    **{f"operators.{m}.{k}": u
       for m in trace.OPERATOR_MODULES for k, u in (("jobs", "count"), ("job_s", "s"))},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count", "spark.exchanges": "count",
    "spark.job_floor_s": "s", "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio", "spark.failed_tasks": "count", "spark.cached_mb": "MB",
    "driver.idle_s": "s", "driver.rss_hwm_mb": "MB", "jvm.rss_hwm_mb": "MB",
    "python.stages": "count", "python.task_s": "s", "python.rows_sent": "count", "python.bytes_sent": "bytes",
    "python.arrow_floor_s": "s", "python.worker_rss_hwm_mb": "MB",
    "sources.input_bytes": "bytes", "sources.input_rows": "count", "sources.rescan_ratio": "ratio",
    "sources.output_bytes": "bytes", "sources.output_rows": "count", "sources.write_s": "s",
    **{f"plans.{ph}_s": "s" for ph in PLAN_PHASES},
    "streaming.batches": "count", "streaming.batch_s": "s", "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "trace.unattributed_jobs": "count", "trace.pass_s": "s", "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s", "error_rate": "ratio",
}
WORKLOAD_NAMES = ("curation", "etl_stream")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(scratch: Path) -> dict[str, str]:
    """Point every temp, spill, warehouse and worker path into `scratch`
    and put the repo on PYTHONPATH, so workers import the engine from any
    cwd. Returns the Spark confs that go with it."""
    for sub in ("tmp", "local", "warehouse"):
        (scratch / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TMPDIR": str(scratch / "tmp"),
        "SPARK_LOCAL_DIRS": str(scratch / "local"),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TZ": "UTC",
    })
    time.tzset()
    import tempfile

    tempfile.tempdir = str(scratch / "tmp")
    tmp = scratch / "tmp"
    return {
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }


class Recorder:
    """Times operations and phases; in a traced session also sets the job
    group that ties each Spark job to its (pass, operation, phase)."""

    def __init__(self):
        self.sc = None
        self.pass_no = self.op = None
        self.phases: dict[tuple, tuple[float, float]] = {}

    @contextmanager
    def phase(self, name: str):
        if self.sc is not None:
            self.sc.setJobGroup(trace.group_id(self.pass_no, self.op, name), name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.phases[(self.pass_no, self.op, name)] = (t0, t1)
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def dir_bytes(d: Path) -> int:
    return sum(f.stat().st_size for f in d.rglob("*") if f.is_file())


class Runner:
    def __init__(self, args, scratch: Path, confs: dict[str, str]):
        self.args, self.scratch, self.confs = args, scratch, confs
        self.t_start = time.perf_counter()
        self.rec = Recorder()
        self.passes: list[dict] = []
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.spark = None

    # -- passes -----------------------------------------------------------

    def run_pass(self, p: int, traced: bool) -> dict:
        d = self.wl.stage_pass(p, self.scratch / "inputs")
        in_bytes = dir_bytes(d)
        self.rec.pass_no, results = p, []
        cpu0, w0, t0 = procstat.tree_cpu_s(), time.time(), time.perf_counter()
        for name, fn in self.wl.ops(self.spark, p, d):
            self.rec.op = name
            o0 = time.time()
            try:
                out, err = fn(self.rec), None
            except Exception as e:  # an operation that raises is a failed operation
                out, err = None, f"{type(e).__name__}: {str(e)[:300]}"
            o1 = time.time()
            if err is None and o1 - o0 > OP_TIMEOUT_S:
                err = f"timed out ({o1 - o0:.1f} s)"
            results.append((name, out, err, o0, o1))
        wall, w1 = time.perf_counter() - t0, time.time()
        cpu = procstat.tree_cpu_s() - cpu0
        record = {"pass": p, "traced": traced, "wall_s": wall, "cpu_s": cpu, "span": (w0, w1),
                  "input_bytes": in_bytes, "ops": {}}
        for name, out, err, o0, o1 in results:
            if err is None:
                try:
                    err = self.wl.check(name, out, d)
                except Exception as e:
                    err = f"check raised {type(e).__name__}: {e}"
            self.attempted += 1
            if err:
                self.failed += 1
                self.failures.append(f"pass {p} {name}: {err}")
            record["ops"][name] = {"span": (o0, o1), "error": err}
        if traced:
            record.update(self.sample_memory())
        shutil.rmtree(d, ignore_errors=True)
        self.passes.append(record)
        return record

    def warm_passes(self, n: int, traced: bool, first: int) -> int:
        """Run passes first..first+n-1; returns the next pass number."""
        p = first
        while p < first + n and time.perf_counter() - self.t_start < PASS_BUDGET_S:
            self.run_pass(p, traced)
            p += 1
        return p

    def sample_memory(self) -> dict:
        from pyspark import SparkContext

        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        jvm = SparkContext._gateway.proc.pid
        workers = [pid for pid in procstat.descendants(jvm) if procstat.is_python(pid)]
        return {
            "cached_mb": sum(i.memSize() + i.diskSize() for i in infos) / 2**20,
            "jvm_hwm_mb": procstat.hwm_mb(jvm),
            "worker_hwm_mb": max((procstat.hwm_mb(w) for w in workers), default=0.0),
        }

    # -- whole run ----------------------------------------------------------

    def run(self) -> dict:
        self.spark, self.import_s, self.start_s = session_setup.start(self.confs)
        from perfbench import workloads

        self.steal0 = procstat.cpu_times()
        self.wl = workloads.WORKLOADS[self.args.workload]()
        self.wl.stage(self.args.seed, self.scratch / "inputs")
        self.labels = self.run_labels()
        n_warm = max(MIN_WARM_PASSES, round(self.args.seconds / self.wl.nominal_pass_s))
        self.run_pass(1, traced=False)
        if not self.args.trace:
            self.warm_passes(n_warm, traced=False, first=2)
            return self.end_to_end()
        # one untraced warm pass as the overhead baseline, the rest traced
        return self.traced(self.warm_passes(1, traced=False, first=2), max(2, n_warm - 1))

    def end_to_end(self) -> dict:
        warm = [r for r in self.passes if r["pass"] > 1]
        return {
            "setup_s": self.import_s + self.start_s,
            "first_pass_s": self.passes[0]["wall_s"],
            "pass_s": statistics.median(r["wall_s"] for r in warm),
            "cpu_s": statistics.median(r["cpu_s"] for r in warm),
        }

    def traced(self, first: int, n_passes: int) -> dict:
        from pyspark.sql.streaming import StreamingQueryListener

        untraced = [r["wall_s"] for r in self.passes if r["pass"] > 1]
        log_dir = self.scratch / "eventlog"
        log_dir.mkdir()
        session_setup.stop(self.spark, keep_jvm=True)
        self.spark, _, _ = session_setup.start({
            **self.confs,
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        rec = self.rec
        stream_runs: dict[str, tuple[str, str]] = {}
        progress: list[dict] = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                stream_runs[str(event.runId)] = (str(rec.pass_no), rec.op)

            def onQueryProgress(self, event):
                pr = event.progress
                progress.append({
                    "runId": str(pr.runId),
                    "durationMs": dict(pr.durationMs or {}),
                    "state_rows": sum(s.numRowsTotal for s in pr.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Listener())
        rec.sc = self.spark.sparkContext
        trace.record_call_sites(str(ROOT / PKG))
        floors = self.floors()  # also re-warms the new context before traced passes
        self.warm_passes(n_passes, traced=True, first=first)
        driver_hwm = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        session_setup.stop(self.spark)  # drains the listener bus and closes the event log
        self.spark = None
        log = trace.EventLog(
            ev for f in sorted(p for p in log_dir.rglob("*") if p.is_file()) for ev in trace.read_event_log(f)
        )
        log.attribute(stream_runs)
        traced = [r for r in self.passes if r["traced"]]
        per_pass = []
        for r in traced:
            p = str(r["pass"])
            runs = {k for k, v in stream_runs.items() if v[0] == p}
            m = trace.pass_metrics(log, p, r["span"], [x for x in progress if x["runId"] in runs])
            for layer, phases in (("queries", QUERY_PHASES), ("plans", PLAN_PHASES)):
                for ph in phases:
                    m[f"{layer}.{ph}_s"] = sum(
                        b - a for (q, _, name), (a, b) in rec.phases.items() if q == r["pass"] and name == ph
                    )
            m["sources.rescan_ratio"] = m["sources.input_bytes"] / r["input_bytes"]
            m["spark.cached_mb"] = r["cached_mb"]
            per_pass.append(m)
        out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        out.update({
            "session.import_s": self.import_s,
            "session.start_s": self.start_s,
            "spark.job_floor_s": floors[0],
            "python.arrow_floor_s": floors[1],
            "driver.rss_hwm_mb": driver_hwm,
            "jvm.rss_hwm_mb": max(r["jvm_hwm_mb"] for r in traced),
            "python.worker_rss_hwm_mb": max(r["worker_hwm_mb"] for r in traced),
            "trace.unattributed_jobs": sum(1 for j in log.jobs.values() if j["key"] is None),
            "trace.pass_s": statistics.median(r["wall_s"] for r in traced),
            "trace.untraced_pass_s": statistics.median(untraced),
        })
        out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.untraced_pass_s"]
        self.spans = trace.spans(
            self.labels["run_id"],
            (time.time() - (time.perf_counter() - self.t_start), time.time()),
            {r["pass"]: r["span"] for r in traced},
            {(r["pass"], op): v["span"] for r in traced for op, v in r["ops"].items()},
            {k: v for k, v in rec.phases.items() if any(r["pass"] == k[0] for r in traced)},
            log,
        )
        return out

    def floors(self) -> tuple[float, float]:
        """Median of five: one empty JVM job; one trivial Arrow UDF stage."""
        from pyspark.sql import functions as F

        self.rec.pass_no, self.rec.op = "floor", "floor"
        sc, spark = self.spark.sparkContext, self.spark
        ident = F.pandas_udf(lambda s: s, "long")
        out = []
        for phase, action in (
            ("job", lambda: spark.range(0, 1, 1, 1)._jdf.rdd().count()),
            ("arrow", lambda: spark.range(0, 1, 1, 1).select(ident("id")).collect()),
        ):
            sc.setJobGroup(trace.group_id("floor", "floor", phase), phase)
            action()  # first call pays one-off costs
            times = []
            for _ in range(5):
                t0 = time.perf_counter()
                action()
                times.append(time.perf_counter() - t0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            out.append(statistics.median(times))
        return out[0], out[1]

    def run_labels(self) -> dict:
        sc = self.spark.sparkContext
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
        return {
            "run_id": f"{self.args.workload}-{self.args.seed}-{os.getpid()}",
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "task_threads": sc.defaultParallelism,
            "master": sc.master,
            "driver_heap": sc.getConf().get("spark.driver.memory"),
            "java": sc._jvm.System.getProperty("java.version"),
            "spark": self.spark.version,
            "python": platform.python_version(),
            "git_commit": commit,
        }

    def steal_pct(self) -> float:
        s1, t1 = procstat.cpu_times()
        s0, t0 = self.steal0
        return 100.0 * (s1 - s0) / max(1, t1 - t0)


def result_line(metrics: dict, trace: int, attempted: int, failed: int) -> dict:
    names = PER_LAYER if trace else END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in names.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"engine package {PKG}/ not found next to perfbench/", file=sys.stderr)
        return 2
    scratch = ROOT / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    confs = isolate(scratch)
    runner = Runner(args, scratch, confs)
    try:
        metrics = runner.run()
    finally:
        if runner.spark is not None:
            session_setup.stop(runner.spark)
        procstat.reap(procstat.descendants(os.getpid())[1:])
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            scratch.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    if args.trace:
        metrics["error_rate"] = runner.failed / max(1, runner.attempted)
    result = result_line(metrics, args.trace, runner.attempted, runner.failed)
    artifact = {
        "labels": {**runner.labels, "host_steal_pct": runner.steal_pct()},
        "result": result,
        "failures": runner.failures,
        "passes": [{k: v for k, v in r.items() if k != "span"} for r in runner.passes],
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (out_dir / f"{stem}.json").write_text(json.dumps(artifact, indent=1, default=str))
    if args.trace:
        (out_dir / f"{stem}.spans.json").write_text(json.dumps(runner.spans))
    for line in runner.failures:
        print("FAILED", line, file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
