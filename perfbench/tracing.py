"""The traced run: spans around calls into the program's modules, Spark's
in-process status stores, and a streaming progress listener.

Spans are recorded only by wrapping public functions from here, never by
editing the program. A wrapper keeps its original's module and qualified
name and replaces it in its defining module, so a function shipped to a
Python worker is still pickled by reference and the worker runs the
original.
"""

from __future__ import annotations

import functools
import inspect
import os
import re
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "quatrain_mapreduce_spark"


class Tracer:
    """In-memory spans: name, start, end, parent and job."""

    def __init__(self):
        self.spans: list[dict] = []
        self.sink_bytes = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, job: str | None = None):
        stack = self._stack()
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": stack[-1] if stack else None,
               "job": job if job is not None else getattr(self._local, "job", None)}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        if job is not None:
            self._local.job = job
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if job is not None:
                self._local.job = None

    def _wrap(self, fn, layer: str):
        count_bytes = layer == "sources.sinks" and "path" in inspect.signature(fn).parameters
        sig = inspect.signature(fn) if count_bytes else None

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                out = fn(*args, **kwargs)
            if count_bytes:
                path = sig.bind(*args, **kwargs).arguments.get("path")
                if isinstance(path, str) and os.path.isdir(path):
                    n = dir_bytes(path)
                    with self._lock:
                        self.sink_bytes += n
            return out

        return traced

    def install(self, layers: dict[str, object], only: dict[str, tuple[str, ...]] | None = None) -> None:
        """Wrap the public functions of each layer's module (or only the
        names listed for it) and rebind every alias the package holds."""
        swap = {}
        for layer, mod in layers.items():
            for attr, fn in vars(mod).items():
                if (attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__
                        or hasattr(fn, "evalType") or (only and layer in only and attr not in only[layer])):
                    continue
                swap[fn] = self._wrap(fn, layer)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE):
                for attr, val in list(vars(mod).items()):
                    if inspect.isfunction(val) and val in swap:
                        self._restore.append((mod, attr, val))
                        setattr(mod, attr, swap[val])

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._restore):
            setattr(mod, attr, val)
        self._restore.clear()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, total time, and self time. A span's self time is
    its duration minus the part of its interval that its children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, dict] = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, edge = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"] or s["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        agg["calls"] += 1
        agg["total_s"] += s["end"] - s["start"]
        agg["self_s"] += s["end"] - s["start"] - covered
    return out


STAGE_FIELDS = {
    "tasks": "numTasks", "failed_tasks": "numFailedTasks", "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime", "gc_ms": "jvmGcTime", "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes", "shuffle_write_bytes": "shuffleWriteBytes",
    "disk_spill_bytes": "diskBytesSpilled", "memory_spill_bytes": "memoryBytesSpilled",
}

_AMOUNT = re.compile(r"([0-9.]+) (ms|s|m|h)$")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_seconds(text: str) -> float | None:
    """Seconds in a SQL metric's display text ("148 ms", or a "total (min,
    med, max ...)" line followed by the total); None if not a time."""
    head = text.strip().split("\n")[-1].split(" (")[0].strip()
    m = _AMOUNT.match(head)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else None


class SparkStore:
    """Reads the stage status store and the SQL status store of a session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._last_execution = -1

    def group_work(self, group: str) -> dict:
        """Jobs, stages and summed stage metrics of one job group."""
        tracker = self.sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group))
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        attempts = []
        for sid in stage_ids:
            attempts.extend(_seq(self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)))
        work = self._stage_sums(attempts)
        work.update(jobs=len(job_ids), job_ids=job_ids)
        return work

    def _stage_sums(self, stages) -> dict:
        work = {k: 0 for k in STAGE_FIELDS}
        work["stages"] = 0
        for st in stages:
            if st.status().toString() == "SKIPPED":
                continue
            work["stages"] += 1
            for k, getter in STAGE_FIELDS.items():
                work[k] += int(getattr(st, getter)())
        return work

    def _all_stages(self) -> list:
        return _seq(self._store.stageList(self._no_tasks, False, False, self._no_quantiles, self._no_tasks))

    def max_stage_id(self) -> int:
        return max((int(s.stageId()) for s in self._all_stages()), default=-1)

    def stages_since(self, stage_id: int) -> dict:
        """Summed metrics of every stage newer than ``stage_id`` and the
        number of jobs that ran them."""
        new = [s for s in self._all_stages() if int(s.stageId()) > stage_id]
        work = self._stage_sums(new)
        jobs = self._store.jobsList(self._no_tasks)
        work["jobs"] = sum(1 for i in range(jobs.size())
                           if any(int(x) > stage_id for x in _seq(jobs.apply(i).stageIds())))
        return work

    def new_executions(self, job_ids: set[int] | None) -> tuple[int, list[tuple[str, float]]]:
        """SQL executions finished since the last call that ran any of
        ``job_ids`` (any job when None), and their operators' time metrics
        as (operator, s)."""
        execs = self._sql.executionsList()
        count, ops = 0, []
        newest = self._last_execution
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._last_execution:
                break
            newest = max(newest, eid)
            jobs = e.jobs().keySet().iterator()
            ran = set()
            while jobs.hasNext():
                ran.add(int(jobs.next()))
            if job_ids is not None and not ran & job_ids:
                continue
            count += 1
            values = {}
            it = self._sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[int(kv._1())] = kv._2()
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    sec = metric_seconds(values.get(int(m.accumulatorId()), ""))
                    if sec:
                        ops.append((f"{node.name()}: {m.name()}", sec))
        self._last_execution = newest
        return count, ops


def _seq(seq) -> list:
    """A Scala Seq as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's progress as a plain dict."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        state = p.stateOperators[0] if p.stateOperators else None
        self.progress.append({
            "batch": p.batchId, "rows": p.numInputRows, "duration_ms": dict(p.durationMs),
            "state_rows": state.numRowsTotal if state else 0,
            "state_memory_bytes": state.memoryUsedBytes if state else 0,
            "state_commit_ms": state.commitTimeMs if state else 0,
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
