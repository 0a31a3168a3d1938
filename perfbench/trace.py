"""Traced-run analysis: Spark event log + job groups + streaming progress
→ spans and per-layer metrics.

Job groups have the form `pb|<pass>|<operation>|<phase>`; the benchmark
sets them around every phase. Micro-batch jobs run under the streaming
query's run id instead, which the listener maps back to the operation
that started the query. A job that resolves to neither is unattributed.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import sys
from collections import defaultdict
from pathlib import Path

OPERATOR_MODULES = ("dedup", "similarity", "linear", "sampling", "text", "sketches")
_OPERATOR_SITE = re.compile(r"operators/(\w+)\.py:")
# plan nodes that run Python code in a worker
_PY_NODES = re.compile(r"Python|Pandas|Arrow(?!FileFormat)")
_GROUP_PREFIX = "pb"


def group_id(pass_no, op: str, phase: str) -> str:
    return f"{_GROUP_PREFIX}|{pass_no}|{op}|{phase}"


def parse_group(gid: str | None):
    if gid and gid.startswith(_GROUP_PREFIX + "|"):
        _, p, op, phase = gid.split("|", 3)
        return p, op, phase
    return None


# actions the engine calls eagerly; wrapped so their jobs carry the engine's
# own call site (pyspark records none for some of them, e.g. count/toPandas)
_ACTIONS = {
    "DataFrame": ("collect", "count", "toPandas", "toArrow", "take", "head", "first", "isEmpty",
                  "toLocalIterator", "foreach", "foreachPartition", "checkpoint", "localCheckpoint"),
    "DataFrameWriter": ("save", "parquet", "json", "csv", "text", "orc", "saveAsTable", "insertInto"),
    "DataFrameReader": ("load", "parquet", "json", "csv", "text", "orc", "table"),
}


def record_call_sites(pkg_dir: str) -> None:
    """Make Spark record, on every job an engine action starts, the
    innermost engine frame as `callSite.short`. Only pyspark classes are
    wrapped; the engine is untouched."""
    from pyspark import SparkContext
    from pyspark.sql import DataFrame, DataFrameReader, DataFrameWriter
    from pyspark.traceback_utils import SCCallSiteSync

    def site():
        f = sys._getframe(2)
        while f is not None:
            if f.f_code.co_filename.startswith(pkg_dir):
                return f"{f.f_code.co_name} at {f.f_code.co_filename}:{f.f_lineno}"
            f = f.f_back
        return None

    def wrap(orig):
        @functools.wraps(orig)
        def action(*args, **kwargs):
            where = None if SCCallSiteSync._spark_stack_depth else site()
            sc = SparkContext._active_spark_context
            if where is None or sc is None:
                return orig(*args, **kwargs)
            sc._jsc.setCallSite(where)
            SCCallSiteSync._spark_stack_depth += 1
            try:
                return orig(*args, **kwargs)
            finally:
                SCCallSiteSync._spark_stack_depth -= 1
                sc._jsc.setCallSite(None)

        action.__wrapped_for_trace__ = True
        return action

    for cls in (DataFrame, DataFrameReader, DataFrameWriter):
        for name in _ACTIONS[cls.__name__]:
            orig = getattr(cls, name)
            if not getattr(orig, "__wrapped_for_trace__", False):
                setattr(cls, name, wrap(orig))


def read_event_log(path: Path):
    """Yield events from a JSON-lines event log, skipping blank lines and
    a partial last line (a log still being written ends mid-object)."""
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                continue


def _plan_nodes(info: dict):
    yield info.get("nodeName", "")
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def _python_row_accums(info: dict):
    """Accumulator ids of the rows each Python plan node produces (a
    scalar UDF emits one row per row it was sent)."""
    if _PY_NODES.search(info.get("nodeName", "")):
        for m in info.get("metrics", ()):
            if m.get("name") == "number of output rows":
                yield m["accumulatorId"]
    for child in info.get("children", ()):
        yield from _python_row_accums(child)


class EventLog:
    """Jobs, stages, tasks and SQL plans of one application."""

    def __init__(self, events):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.plans: dict[int, dict] = {}
        self.py_row_accums: set[int] = set()
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "start": ev["Submission Time"] / 1000,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "site": props.get("callSite.short") or "",
                    "exec_id": props.get("spark.sql.execution.id"),
                    "stage_ids": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job:
                    job["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                scopes = []
                for rdd in info.get("RDD Info", ()):
                    scopes.append(rdd.get("Name", ""))
                    try:
                        scopes.append(json.loads(rdd.get("Scope") or "{}").get("name", ""))
                    except (TypeError, ValueError):
                        pass
                self.stages[info["Stage ID"]] = {
                    "id": info["Stage ID"],
                    "tasks": info.get("Number of Tasks", 0),
                    "start": (info.get("Submission Time") or 0) / 1000,
                    "end": (info.get("Completion Time") or 0) / 1000,
                    "python": any(_PY_NODES.search(s) for s in scopes),
                    "failed": "Failure Reason" in info,
                }
            elif kind == "SparkListenerTaskEnd":
                self.tasks[ev["Stage ID"]].append(_task(ev))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                self.plans[ev["executionId"]] = plan = ev.get("sparkPlanInfo") or {}
                self.py_row_accums.update(_python_row_accums(plan))

    def attribute(self, stream_runs: dict[str, tuple[str, str]]) -> None:
        """Set job['key'] = (pass, op, phase) or None for every job."""
        for job in self.jobs.values():
            key = parse_group(job["group"])
            if key is None and job["group"] in stream_runs:
                p, op = stream_runs[job["group"]]
                key = (p, op, "stream")
            job["key"] = key

    def exchanges(self, exec_id) -> int:
        if exec_id is None:
            return 0
        nodes = _plan_nodes(self.plans.get(int(exec_id), {}))
        return sum(1 for n in nodes if n in ("Exchange", "BroadcastExchange"))


def _task(ev: dict) -> dict:
    info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
    sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
    inp, out = m.get("Input Metrics") or {}, m.get("Output Metrics") or {}
    accums: dict = defaultdict(int)
    for a in info.get("Accumulables", ()):
        if str(a.get("Update", "")).lstrip("-").isdigit():
            accums[a.get("Name", "")] += int(a["Update"])
            accums[a.get("ID")] += int(a["Update"])
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    return {
        "failed": bool(info.get("Failed")) or reason != "Success",
        "run_s": m.get("Executor Run Time", 0) / 1000,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000,
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
        "in_bytes": inp.get("Bytes Read", 0),
        "in_rows": inp.get("Records Read", 0),
        "out_bytes": out.get("Bytes Written", 0),
        "out_rows": out.get("Records Written", 0),
        "py_bytes_sent": accums.get("data sent to Python workers", 0),
        "accums": accums,
    }


def _union_s(intervals, lo: float, hi: float) -> float:
    total, cur_end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur_end:
            continue
        total += b - max(a, cur_end)
        cur_end = b
    return total


def pass_metrics(log: EventLog, p: str, span: tuple[float, float], progress: list[dict]) -> dict:
    """Per-layer figures of one traced pass from its attributed jobs."""
    jobs = [j for j in log.jobs.values() if j.get("key") and j["key"][0] == p]
    stage_ids = [sid for j in jobs for sid in j["stage_ids"] if sid in log.stages]
    stages = [log.stages[s] for s in stage_ids]
    tasks = [t for s in stage_ids for t in log.tasks.get(s, ())]
    py_stage_ids = [s for s in stage_ids if log.stages[s]["python"]]
    py_tasks = [t for s in py_stage_ids for t in log.tasks.get(s, ())]

    def job_s(j):
        return (j["end"] or j["start"]) - j["start"]

    m: dict[str, float] = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.exchanges": sum(log.exchanges(e) for e in {j["exec_id"] for j in jobs if j["exec_id"]}),
        "spark.task_run_s": sum(t["run_s"] for t in tasks),
        "spark.task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.failed_tasks": sum(t["failed"] for t in tasks) + sum(s["failed"] for s in stages),
        "queries.eager_jobs": sum(1 for j in jobs if j["key"][2] == "build"),
        "python.stages": len(py_stage_ids),
        "python.task_s": sum(t["run_s"] for t in py_tasks),
        "python.rows_sent": sum(t["accums"].get(a, 0) for t in tasks for a in log.py_row_accums),
        "python.bytes_sent": sum(t["py_bytes_sent"] for t in py_tasks),
        "sources.input_bytes": sum(t["in_bytes"] for t in tasks),
        "sources.input_rows": sum(t["in_rows"] for t in tasks),
        "sources.output_bytes": sum(t["out_bytes"] for t in tasks),
        "sources.output_rows": sum(t["out_rows"] for t in tasks),
    }
    writing = [j for j in jobs if any(t["out_rows"] for s in j["stage_ids"] for t in log.tasks.get(s, ()))]
    m["sources.write_s"] = sum(job_s(j) for j in writing)
    skews = []
    for s in stage_ids:
        runs = [t["run_s"] for t in log.tasks.get(s, ())]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))
    m["spark.task_skew"] = max(skews, default=1.0)
    m["driver.idle_s"] = (span[1] - span[0]) - _union_s(
        [(j["start"], j["end"] or j["start"]) for j in jobs], *span
    )
    for mod in OPERATOR_MODULES:
        mine = [j for j in jobs if (_OPERATOR_SITE.search(j["site"]) or [None, None])[1] == mod]
        m[f"operators.{mod}.jobs"] = len(mine)
        m[f"operators.{mod}.job_s"] = sum(job_s(j) for j in mine)
    batch_s = [pr["durationMs"].get("triggerExecution", 0) / 1000 for pr in progress]
    commit_s = [
        (pr["durationMs"].get("walCommit", 0) + pr["durationMs"].get("commitOffsets", 0)) / 1000
        for pr in progress
    ]
    last_state: dict[str, int] = {}
    for pr in progress:
        last_state[pr["runId"]] = pr["state_rows"]
    m["streaming.batches"] = len(progress)
    m["streaming.batch_s"] = statistics.median(batch_s) if batch_s else 0.0
    m["streaming.commit_s"] = statistics.median(commit_s) if commit_s else 0.0
    m["streaming.state_rows"] = sum(last_state.values())
    return m


def spans(run_id: str, run_span, pass_spans, op_spans, phase_spans, log: EventLog) -> list[dict]:
    """run → pass → operation → phase → job → stage, one dict per span."""

    def span(sid, name, start, end, parent):
        return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "run_id": run_id}

    out = [span("run", "run", *run_span, None)]
    out += [span(f"p{p}", f"pass {p}", a, b, "run") for p, (a, b) in pass_spans.items()]
    out += [span(f"p{p}/{op}", op, a, b, f"p{p}") for (p, op), (a, b) in op_spans.items()]
    out += [
        span(f"p{p}/{op}/{ph}", ph, a, b, f"p{p}/{op}") for (p, op, ph), (a, b) in phase_spans.items()
    ]
    ids = {s["id"] for s in out}
    for job in log.jobs.values():
        key = job.get("key")
        parent = None
        if key:  # micro-batch jobs hang off their operation: they have no phase of their own
            parent = f"p{key[0]}/{key[1]}" if key[2] == "stream" else f"p{key[0]}/{key[1]}/{key[2]}"
            parent = parent if parent in ids else "run"  # untraced passes and the floor jobs
        jid = f"job{job['id']}"
        out.append(span(jid, job["site"] or jid, job["start"], job["end"], parent))
        out += [
            span(f"stage{sid}", f"stage {sid}", log.stages[sid]["start"], log.stages[sid]["end"], jid)
            for sid in job["stage_ids"] if sid in log.stages
        ]
    return out
