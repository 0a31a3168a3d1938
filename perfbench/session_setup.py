"""Session set-up as a user pays it: import the engine, then
`session.get_spark()` up to a live session. run.py calls `start` before
importing anything else heavy, so the import is timed cold.
"""

from __future__ import annotations

import os
import time

from . import procstat


def task_threads() -> int:
    return max(1, len(os.sched_getaffinity(0)) - 1)


def start(extra_conf: dict[str, str] | None = None):
    """Returns (spark, import_s, start_s)."""
    t0 = time.perf_counter()
    import dais2021imageprocessingondeltalake_spark.queries_all  # noqa: F401  every module
    from dais2021imageprocessingondeltalake_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(master=f"local[{task_threads()}]", extra_conf=extra_conf)
    return spark, t1 - t0, time.perf_counter() - t1


def stop(spark, keep_jvm: bool = False) -> None:
    """Stop the session; unless `keep_jvm`, also end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if keep_jvm or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = procstat.descendants(proc.pid)[1:] if proc is not None else []
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    procstat.reap(workers)

