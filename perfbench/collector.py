"""Spark accounting and spans, measured from outside the library.

Nothing here runs a Spark job. The numbers come from three places:

* job groups: each measured call runs under its own group
  (``SparkContext.setJobGroup``), and ``statusTracker()`` lists the group's
  job ids;
* the session's local event log (``spark.eventLog.*``), parsed
  incrementally after each call: job start/end, completed stages, and task
  CPU time, run time, shuffle write bytes and spill;
* the ``callSite.short`` job property. PySpark sets it only for a few
  actions, so a traced run tags every DataFrame action with the first
  caller frame outside pyspark (:func:`tag_call_sites`). A job then names
  the ``webdedup/<module>.py`` line that started it.

Spans (name, start, end, parent, run id) are kept in memory by
:class:`Spans` and written as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
from dataclasses import dataclass, field


def eventlog_conf(path: str) -> dict:
    """Session configs for a plain-text, single-file local event log."""
    os.makedirs(path, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(path),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Job:
    id: int
    group: str | None
    site: str | None
    stages: list
    start: float
    end: float | None = None


@dataclass
class StageTotals:
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Stats:
    """Totals over a set of jobs. ``busy_s`` is the union of the jobs'
    start-to-end intervals: the wall time during which any of them ran."""

    jobs: int = 0
    stages: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    busy_s: float = 0.0
    job_ids: list = field(default_factory=list)


class EventLog:
    """Incremental reader of one application's uncompressed event log."""

    def __init__(self, path: str):
        self.path = path
        self._offset = 0
        self._tail = b""
        self.jobs: dict[int, Job] = {}
        self.done_stages: set = set()
        self.stage_totals: dict[int, StageTotals] = {}

    def poll(self) -> None:
        if not os.path.exists(self.path):
            return
        with open(self.path, "rb") as f:
            f.seek(self._offset)
            data = f.read()
        self._offset += len(data)
        lines = (self._tail + data).split(b"\n")
        self._tail = lines.pop()
        for line in lines:
            if line:
                self._on(json.loads(line))

    def _on(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = Job(
                id=e["Job ID"],
                group=props.get("spark.jobGroup.id"),
                site=props.get("callSite.short"),
                stages=list(e["Stage IDs"]),
                start=e["Submission Time"] / 1e3,
            )
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            self.done_stages.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            t = self.stage_totals.setdefault(e["Stage ID"], StageTotals())
            t.run_s += m.get("Executor Run Time", 0) / 1e3
            t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )

    def totals(self, jobs: list) -> Stats:
        s = Stats(jobs=len(jobs), job_ids=sorted(j.id for j in jobs))
        stages = {sid for j in jobs for sid in j.stages} & self.done_stages
        s.stages = len(stages)
        for sid in stages:
            t = self.stage_totals.get(sid, StageTotals())
            s.task_s += t.run_s
            s.cpu_s += t.cpu_s
            s.shuffle_write_bytes += t.shuffle_write_bytes
            s.spill_bytes += t.spill_bytes
        last_end = None
        for j in sorted(jobs, key=lambda j: j.start):
            end = j.end if j.end is not None else j.start
            if last_end is None or j.start >= last_end:
                s.busy_s += end - j.start
                last_end = end
            elif end > last_end:
                s.busy_s += end - last_end
                last_end = end
        return s


class Collector:
    """Job-group accounting for one SparkSession."""

    def __init__(self, spark, eventlog_dir: str):
        self.sc = spark.sparkContext
        self.log = EventLog(os.path.join(eventlog_dir, self.sc.applicationId + ".inprogress"))

    @contextlib.contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def ungrouped_job_ids(self) -> set:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def jobs(self, group: str, timeout_s: float = 60.0) -> list:
        """The group's jobs, once the event log holds each one's end."""
        ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        deadline = time.monotonic() + timeout_s
        while True:
            self.log.poll()
            logged = {j.id for j in self.log.jobs.values() if j.group == group}
            ended = all(
                i in self.log.jobs and self.log.jobs[i].end is not None
                for i in ids | logged
            )
            if ended and ids <= logged:
                return [self.log.jobs[i] for i in sorted(ids | logged)]
            if time.monotonic() > deadline:
                raise TimeoutError(f"event log never recorded the end of group {group!r}")
            time.sleep(0.02)

    def stats(self, group: str) -> Stats:
        return self.log.totals(self.jobs(group))

    def by_module(self, group: str) -> dict:
        """Stats per call-site module (``webdedup/<module>.py`` → module)."""
        per: dict = {}
        for j in self.jobs(group):
            per.setdefault(site_module(j.site), []).append(j)
        return {m: self.log.totals(js) for m, js in per.items()}


def site_module(site: str | None) -> str:
    """``"count at /x/webdedup/lsh.py:80"`` → ``"lsh"``; the benchmark's own
    actions → ``"bench"``; anything else → ``"other"``."""
    if not site or " at " not in site:
        return "other"
    path = site.rsplit(" at ", 1)[1].rsplit(":", 1)[0]
    parent, base = os.path.split(path)
    if os.path.basename(parent) == "webdedup" and base.endswith(".py"):
        return base[:-3]
    if os.path.dirname(os.path.abspath(__file__)) == os.path.abspath(parent):
        return "bench"
    return "other"


_ACTIONS = {
    "pyspark.sql.classic.dataframe.DataFrame": (
        "count", "collect", "toPandas", "take", "head", "first", "show",
        "checkpoint", "localCheckpoint", "toLocalIterator", "foreach",
        "foreachPartition",
    ),
    "pyspark.sql.readwriter.DataFrameWriter": (
        "save", "parquet", "json", "csv", "orc", "text", "saveAsTable",
        "insertInto",
    ),
    "pyspark.sql.readwriter.DataFrameReader": ("load", "parquet", "json", "csv", "orc"),
}


def _caller(action: str) -> str | None:
    """The innermost frame outside pyspark and this module."""
    f = sys._getframe(2)
    while f is not None:
        fn = f.f_code.co_filename
        if not (
            f"{os.sep}pyspark{os.sep}" in fn or "pyspark.zip" in fn or fn == __file__
        ):
            return f"{action} at {fn}:{f.f_lineno}"
        f = f.f_back
    return None


def tag_call_sites() -> None:
    """Wrap pyspark's DataFrame actions so each job records its caller.

    The wrapper sets the ``callSite.short`` local property (what the event
    log's job properties carry) for the duration of the action. Used only
    by the traced run; it changes no plan and adds no job. PySpark's own
    ``SCCallSiteSync`` sets the property only at nesting depth 0, so the
    wrapper takes a depth level too; otherwise pyspark would name the
    wrapper as the caller.
    """
    import importlib

    from pyspark import SparkContext
    from pyspark.traceback_utils import SCCallSiteSync

    for qual, names in _ACTIONS.items():
        mod, cls_name = qual.rsplit(".", 1)
        cls = getattr(importlib.import_module(mod), cls_name)
        for name in names:
            orig = getattr(cls, name, None)
            if orig is None or getattr(orig, "_perfbench_tagged", False):
                continue

            def make(orig=orig, name=name):
                @functools.wraps(orig)
                def tagged(self, *a, **k):
                    jsc = SparkContext._active_spark_context._jsc
                    if SCCallSiteSync._spark_stack_depth == 0:
                        jsc.setCallSite(_caller(name))
                    SCCallSiteSync._spark_stack_depth += 1
                    try:
                        return orig(self, *a, **k)
                    finally:
                        SCCallSiteSync._spark_stack_depth -= 1
                        if SCCallSiteSync._spark_stack_depth == 0:
                            jsc.setCallSite(None)

                tagged._perfbench_tagged = True
                return tagged

            setattr(cls, name, make())


class Spans:
    """In-memory span recorder: name, start, end, parent, run id."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.items: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def __call__(self, name: str):
        if not self.enabled:
            yield None
            return
        span = {
            "id": len(self.items),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
        }
        self.items.append(span)
        self._stack.append(span)
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.items if s["name"] == name)

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.items}, f, indent=1)
        os.replace(path + ".tmp", path)
