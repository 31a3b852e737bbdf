"""The session-build Python-worker prewarm must ACTUALLY execute.

This job has silently no-op'd twice (a quoted type hint raising at
decoration behind the failure guard, then count() pruning the
deterministic UDF projection so the job never touched Python). The
operator contract is behavioral: the warm-up returns True only when
the UDF BODY executed on workers (a per-row accumulator inside the
UDF must reach the row count — a job that completes without touching
Python cannot fake it), and a daemon process must exist afterwards.
"""

from __future__ import annotations

import os
import subprocess

from biosample_enricher_spark.session import _prewarm_python_workers


def _daemon_count() -> int:
    """pyspark.daemon / pyspark.worker processes that descend from this
    test's own Python process (its JVM forks the daemon), so Spark
    sessions of other processes on the host are not counted."""
    out = subprocess.run(
        ["ps", "-eo", "pid,ppid,cmd"], capture_output=True, text=True
    ).stdout
    children: dict[int, list[tuple[int, str]]] = {}
    for line in out.splitlines()[1:]:
        pid, ppid, *cmd = line.split(None, 2)
        children.setdefault(int(ppid), []).append((int(pid), " ".join(cmd)))
    n, todo = 0, [os.getpid()]
    while todo:
        for pid, cmd in children.get(todo.pop(), []):
            n += "pyspark.daemon" in cmd or "pyspark.worker" in cmd
            todo.append(pid)
    return n


def test_prewarm_executes_udf_job(spark):
    assert _prewarm_python_workers(spark) is True
    # the warm-up spawned (or reused) the worker pool: the daemon that
    # forks per-task workers is alive
    assert _daemon_count() >= 1
