"""Spans around calls into the package, per-op Spark counts, event-log
attribution and peak memory from ``/proc``.

Spans are kept in memory (name, start, end, parent, op id) and written
out when the run ends. Spark-side numbers come from two public sources:
``SparkContext.statusTracker()`` (jobs, stages, tasks per job group) and
the event log (``spark.eventLog.enabled``), parsed after the session
stops.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Spans:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def status_counts(spark, groups: list[str]) -> dict[str, int]:
    """Jobs, stages run, tasks attempted and tasks failed under the job
    groups, from the status tracker. Skipped stages are not counted."""
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = failed = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue
                stages += 1
                tasks += s.numCompletedTasks + s.numFailedTasks
                failed += s.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "tasks_failed": failed}


# --- peak memory ------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.append(p)
            todo += _children(p)
    return seen


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum of ``VmHWM`` over every descendant of ``pid`` (the Spark
    driver's JVM, the Python worker daemon and its workers)."""
    return sum(vm_hwm_kb(p) for p in descendants(pid or os.getpid())) / 1024.0


# --- event log --------------------------------------------------------------


def _intervals_union(iv: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for s, e in sorted(iv):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class EventLog:
    """Per-job-group totals from a finished application's event log."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.group_acc: dict[str, dict[str, float]] = {}
        self.group_task: dict[str, dict[str, float]] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            # Python sets callSite.short only for some actions; otherwise
            # the result stage carries the JVM-side call site
            last = max(ev.get("Stage Infos", []), key=lambda s: s["Stage ID"], default={})
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "call_site": props.get("callSite.short") or last.get("Stage Name", ""),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in ev["Stage IDs"]:
                self.stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = self.jobs.get(self.stage_job.get(ev["Stage ID"]))
            group = job and job["group"]
            if group is None:
                return
            tm = ev.get("Task Metrics") or {}
            agg = self.group_task.setdefault(group, {})
            sw = tm.get("Shuffle Write Metrics") or {}
            om = tm.get("Output Metrics") or {}
            im = tm.get("Input Metrics") or {}
            for key, val in (
                ("executor_run_s", tm.get("Executor Run Time", 0) / 1000.0),
                ("executor_cpu_s", tm.get("Executor CPU Time", 0) / 1e9),
                ("gc_s", tm.get("JVM GC Time", 0) / 1000.0),
                ("spill_bytes", tm.get("Memory Bytes Spilled", 0)
                 + tm.get("Disk Bytes Spilled", 0)),
                ("shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0)),
                ("bytes_written", om.get("Bytes Written", 0)),
                ("records_read", im.get("Records Read", 0)),
            ):
                agg[key] = agg.get(key, 0) + val
            agg["peak_exec_mem"] = max(
                agg.get("peak_exec_mem", 0), tm.get("Peak Execution Memory", 0)
            )
            acc = self.group_acc.setdefault(group, {})
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = a.get("Name")
                try:
                    acc[name] = acc.get(name, 0) + float(a.get("Update", 0))
                except (TypeError, ValueError):
                    pass

    def task(self, group: str, key: str) -> float:
        return self.group_task.get(group, {}).get(key, 0)

    def sql_metric(self, group: str, name: str) -> float:
        return self.group_acc.get(group, {}).get(name, 0)

    def jobs_of(self, group: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] == group and j["end"]]

    def busy_s(self, group: str) -> float:
        """Wall time covered by the group's jobs (overlaps counted once)."""
        return _intervals_union([(j["start"], j["end"]) for j in self.jobs_of(group)])

    def busy_by_call_site(self, group: str) -> dict[str, float]:
        """Job wall time of the group per ``function at file:line``, with
        the file reduced to its base name."""
        out: dict[str, list] = {}
        for j in self.jobs_of(group):
            site = j["call_site"]
            fn, _, where = site.partition(" at ")
            key = f"{fn} at {os.path.basename(where)}" if where else site
            out.setdefault(key, []).append((j["start"], j["end"]))
        return {k: _intervals_union(v) for k, v in out.items()}


def find_event_log(log_dir: str) -> str:
    logs = [
        p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]
