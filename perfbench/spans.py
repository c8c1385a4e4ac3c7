"""Spans at the program's layer boundaries, with Spark work attributed to them.

A span records name, start, end, parent and run id, and is kept in memory
until the benchmark reports. Entering a span sets a Spark job group named
after it, so every job the span's code submits is owned by the innermost
open span. When a span ends, its jobs are read from Spark's status store
(``job(id)``, ``lastStageAttempt(id)``) at once: the store keeps only the
last 1000 jobs, so reading at the end of a long run would lose some.

Catalyst phase times come from a ``QueryExecutionListener`` (each executed
``QueryExecution``'s ``tracker().phases()``), counted for the traced
iterations in which planning ended. Python-boundary bytes come from the
SQL metrics of the Python nodes, attributed through the jobs of each SQL
execution.

With tracing off every span is a no-op, so the untraced run pays nothing.
"""

from __future__ import annotations

import functools
import os
import re
import time
from contextlib import contextmanager

MB = 1024 * 1024
STAGE_FIELDS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_read_b": "shuffleReadBytes",
    "shuffle_write_b": "shuffleWriteBytes",
    "mem_spill_b": "memoryBytesSpilled",
    "disk_spill_b": "diskBytesSpilled",
    "input_b": "inputBytes",
    "output_b": "outputBytes",
    "input_records": "inputRecords",
}
PYTHON_METRICS = {
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_received_b",
}
_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 * 1024 * MB}


def _size_total(text: str) -> float:
    """Total of a formatted SQL size metric ("total (...)\\n1.2 KiB (...)")."""
    m = re.search(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)", text.split("\n", 1)[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class _PhaseListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self, events: list):
        self.events = events

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        phases = qe.tracker().phases()
        got = {}
        for key in ("analysis", "optimization", "planning"):
            opt = phases.get(key)
            if opt.isDefined():
                got[key] = (opt.get().startTimeMs(), opt.get().endTimeMs())
        if got:
            self.events.append(got)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.run_id = 0
        self.jobs: dict[int, tuple[float, float]] = {}
        self.stage_seen: set[int] = set()
        self.phase_events: list[dict] = []
        self._listener = None
        if enabled:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.sc._gateway)
            self._listener = _PhaseListener(self.phase_events)
            spark._jsparkSession.listenerManager().register(self._listener)

    def close(self) -> None:
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    def _group(self, idx: int) -> str:
        return f"perfbench-{os.getpid()}-{idx}"

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        rec = {"id": idx, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None, "jobs": [], "stages": {},
               "counts": {}}
        self.spans.append(rec)
        self.stack.append(idx)
        self.sc.setJobGroup(self._group(idx), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self._collect(rec)
            if parent is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(self._group(parent), self.spans[parent]["name"])

    def _collect(self, rec: dict) -> None:
        """Read the span's own jobs and their stages from the status store."""
        self._drain()
        store = self.sc._jsc.sc().statusStore()
        for jid in self.sc.statusTracker().getJobIdsForGroup(self._group(rec["id"])):
            data = store.job(jid)
            sub, comp = data.submissionTime(), data.completionTime()
            start = sub.get().getTime() / 1000 if sub.isDefined() else rec["start"]
            end = comp.get().getTime() / 1000 if comp.isDefined() else rec["end"]
            if jid in self.jobs:
                raise RuntimeError(f"job {jid} attributed twice")
            self.jobs[jid] = (max(start, rec["start"]), min(max(end, start), rec["end"]))
            rec["jobs"].append(jid)
            ids = data.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self.stage_seen:
                    continue
                stage = store.lastStageAttempt(sid)
                if str(stage.status()) == "SKIPPED":
                    continue
                self.stage_seen.add(sid)
                rec["stages"][sid] = {k: getattr(stage, f)() for k, f in STAGE_FIELDS.items()}

    # -- instrumentation -------------------------------------------------
    def wrap(self, name: str, fn, after=None):
        """``fn`` inside a span; ``after(span, args, result)`` adds counts."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and after is not None:
                    after(rec, args, out)
                return out

        return traced

    # -- reporting -------------------------------------------------------
    def records(self) -> list[dict]:
        """The spans as written out at the end: name, start, end, parent,
        run id and the number of jobs each owns."""
        keys = ("id", "name", "parent", "run", "start", "end")
        return [{**{k: s[k] for k in keys}, "jobs": len(s["jobs"])} for s in self.spans]

    def _subtree(self, roots: list[int]) -> list[dict]:
        keep = set(roots)
        for s in self.spans:
            if s["parent"] in keep:
                keep.add(s["id"])
        return [s for s in self.spans if s["id"] in keep]

    def check_complete(self, spans: list[dict]) -> None:
        """Every job from the first to the last one the spans own must be
        owned by one of them, and every count must be non-negative."""
        jobs = sorted(j for s in spans for j in s["jobs"])
        if jobs and jobs != list(range(jobs[0], jobs[-1] + 1)):
            missing = sorted(set(range(jobs[0], jobs[-1] + 1)) - set(jobs))
            raise RuntimeError(f"jobs not attributed to any span: {missing[:10]}")
        for s in spans:
            for stage in s["stages"].values():
                if min(stage.values()) < 0:
                    raise RuntimeError(f"negative stage metric in span {s['name']}")

    def report(self, roots: list[int]) -> dict:
        """Per-layer metrics over the spans under ``roots``."""
        self._drain()
        spans = self._subtree(roots)
        self.check_complete(spans)
        by_id = {s["id"]: s for s in spans}

        def layer(s):
            return s["name"].split(".", 1)[0]

        def outermost(s):
            p = s["parent"]
            while p is not None and p in by_id:
                if layer(by_id[p]) == layer(s):
                    return False
                p = by_id[p]["parent"]
            return True

        out: dict[str, float] = {}

        def add(key, value):
            out[key] = out.get(key, 0.0) + value

        for s in spans:
            dur = s["end"] - s["start"]
            if outermost(s):
                add(f"{s['name']}_s", dur)
            for k, v in s["counts"].items():
                add(f"{layer(s)}.{k}", v)
            add("spark.jobs", len(s["jobs"]))
            add("spark.stages", len(s["stages"]))
            for stage in s["stages"].values():
                add(f"{layer(s)}.input_records", stage["input_records"])
                for k, v in stage.items():
                    add(f"stage.{k}", v)
        # driver gap: top-level span time during which no job ran
        tops = [s for s in spans if s["id"] in roots]
        wall = busy = 0.0
        for s in tops:
            wall += s["end"] - s["start"]
            busy += _union([self.jobs[j] for t in self._subtree([s["id"]]) for j in t["jobs"]])
        out["spark.job_wall_s"] = busy
        out["spark.driver_gap_s"] = wall - busy
        # catalyst phases of the query executions planned inside the spans
        lo, hi = min(s["start"] for s in tops), max(s["end"] for s in tops)
        for ev in list(self.phase_events):
            end_ms = max(e for _, e in ev.values())
            if lo * 1000 <= end_ms <= hi * 1000:
                for k, (a, b) in ev.items():
                    add(f"catalyst.{k}_s", (b - a) / 1000)
        # Python boundary bytes, attributed through the executions' jobs
        owned = {j for s in spans for j in s["jobs"]}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        it = sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jobs = ex.jobs().keySet().iterator()
            if not jobs.hasNext() or jobs.next() not in owned:
                continue
            names = {}
            ms = ex.metrics()
            for i in range(ms.size()):
                m = ms.apply(i)
                if m.name() in PYTHON_METRICS:
                    names[m.accumulatorId()] = PYTHON_METRICS[m.name()]
            if names:
                values = sql.executionMetrics(ex.executionId())
                for acc, key in names.items():
                    v = values.get(acc)
                    if v.isDefined():
                        add(f"python.{key}", _size_total(v.get()))
        return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
