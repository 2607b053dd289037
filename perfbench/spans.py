"""Span tracing from outside the engine.

A ``Tracer`` records spans around the calls the benchmark makes into
``rental_engine`` (query construction, the final action) and around four
internal helpers, which it wraps by replacing the module attributes of
``rental_engine.queries`` for as long as it is installed.  Every span
gets its own Spark job group, so the jobs a span launched are looked up
afterwards by group id in ``sc.statusTracker()``, and their stages'
accounting (tasks, executor time, GC, shuffle, spill, input rows) in
``sc._jsc.sc().statusStore()``.  Spans stay in memory; ``pass_metrics``
turns one pass's spans into the per-layer sums, and ``dump`` writes
them out when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from contextlib import contextmanager

from rental_engine import queries as Q

# module attribute -> span name; all four are called through module
# globals inside rental_engine.queries, so replacing the attribute is
# enough to see every call
WRAPPED = {"_price_cutoffs": "cutoffs", "_exact_ranks": "ranks",
           "_grouped_median": "median", "_table_bytes": "gates"}

_STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime", "inputRecords",
                 "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled")


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._prefix = f"perfbench-{os.getpid()}-"
        self._ids = itertools.count()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._saved: dict[str, object] = {}
        self.query: str | None = None
        self.pass_no: int | None = None

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent and parent["id"],
               "query": self.query, "pass": self.pass_no,
               "group": f"{self._prefix}{sid}", "jobs": []}
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], f"{name}: {self.query}", False)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if parent:
                self.sc.setJobGroup(parent["group"], f"{parent['name']}: {self.query}", False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        for attr, name in WRAPPED.items():
            self._saved[attr] = getattr(Q, attr)
            setattr(Q, attr, self._wrap(name, self._saved[attr]))

    def uninstall(self) -> None:
        for attr, fn in self._saved.items():
            setattr(Q, attr, fn)
        self._saved.clear()

    # -- Spark accounting ------------------------------------------------
    def _job(self, job_id: int) -> dict:
        jd = self._store.job(job_id)
        sub, done = jd.submissionTime(), jd.completionTime()
        job = {"id": job_id, "stages": 0, "tasks": 0,
               "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
               "end": done.get().getTime() / 1e3 if done.isDefined() else None,
               **{f: 0 for f in _STAGE_FIELDS}}
        info = self.sc.statusTracker().getJobInfo(job_id)
        for sid in (info.stageIds if info else []):
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            job["stages"] += 1
            job["tasks"] += st.numCompleteTasks()
            for f in _STAGE_FIELDS:
                job[f] += getattr(st, f)()
        return job

    def collect_jobs(self, spans: list[dict]) -> None:
        """Attach each span's own jobs (those in its job group).  Waits for
        the listener bus first, so the status store has every job end."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in spans:
            s["jobs"] = [self._job(j) for j in sorted(tracker.getJobIdsForGroup(s["group"]))]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def pass_metrics(spans: list[dict], names: list[str]) -> dict[str, float]:
    """Per-layer sums over one traced pass.  ``spans`` are that pass's
    spans with jobs attached; ``names`` are every query in QUERIES (those
    outside the pass report 0)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        yield s
        for k in kids.get(s["id"], []):
            yield from subtree(k)

    def jobs(s):
        return [j for t in subtree(s) for j in t["jobs"]]

    def dur(s):
        return s["end"] - s["start"]

    def job_free_s(s):
        iv = [(j["start"], j["end"]) for j in jobs(s) if j["start"] and j["end"]]
        return dur(s) - _union_s(iv, s["start"], s["end"])

    m: dict[str, float] = {f"query.{q}.{k}": 0 for q in names
                           for k in ("build_s", "action_s", "jobs")}
    for k in ("build.s", "build.driver_s", "cutoffs.s", "median.self_s", "gates.s",
              "action.s", "action.driver_s", "action.executor_run_s",
              "action.executor_cpu_s", "action.gc_s"):
        m[k] = 0.0
    for k in ("build.jobs", "cutoffs.calls", "cutoffs.jobs", "ranks.recursions",
              "median.calls", "median.jobs", "gates.calls", "action.jobs",
              "action.stages", "action.tasks", "action.shuffle_read_bytes",
              "action.shuffle_write_bytes", "action.spill_bytes", "scan.input_rows"):
        m[k] = 0
    for s in spans:
        name, q = s["name"], s["query"]
        if name in ("build", "action"):
            js = jobs(s)
            m[f"query.{q}.{name}_s"] += dur(s)
            m[f"query.{q}.jobs"] += len(js)
            m[f"{name}.s"] += dur(s)
            m[f"{name}.jobs"] += len(js)
            m[f"{name}.driver_s"] += job_free_s(s)
            m["scan.input_rows"] += sum(j["inputRecords"] for j in js)
            if name == "action":
                m["action.stages"] += sum(j["stages"] for j in js)
                m["action.tasks"] += sum(j["tasks"] for j in js)
                m["action.executor_run_s"] += sum(j["executorRunTime"] for j in js) / 1e3
                m["action.executor_cpu_s"] += sum(j["executorCpuTime"] for j in js) / 1e9
                m["action.gc_s"] += sum(j["jvmGcTime"] for j in js) / 1e3
                m["action.shuffle_read_bytes"] += sum(j["shuffleReadBytes"] for j in js)
                m["action.shuffle_write_bytes"] += sum(j["shuffleWriteBytes"] for j in js)
                m["action.spill_bytes"] += sum(j["diskBytesSpilled"] for j in js)
        elif name == "cutoffs":
            m["cutoffs.calls"] += 1
            m["cutoffs.s"] += dur(s)
            m["cutoffs.jobs"] += len(jobs(s))
        elif name == "ranks":
            m["ranks.recursions"] += 1
        elif name == "median":
            m["median.calls"] += 1
            m["median.self_s"] += dur(s) - _union_s(
                [(k["start"], k["end"]) for k in kids.get(s["id"], [])], s["start"], s["end"])
            m["median.jobs"] += len(jobs(s))
        elif name == "gates":
            m["gates.calls"] += 1
            m["gates.s"] += dur(s)
    return m
