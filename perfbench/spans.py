"""Spans and Spark counters for the traced benchmark run.

Everything here reads the program from outside: a span times one call into
the package and tags it with its own Spark job group, and the counters come
from Spark's status stores (jobs and stages from the core store, write and
Python-boundary metrics from the SQL store), from a DataFrame's planning
tracker, and from a streaming query's ``recentProgress``. Spans stay in
memory until the run ends.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager

_MB = 1024 * 1024
_NUM = r"\d[\d,]*(?:\.\d+)?"
_SIZE = re.compile(rf"({_NUM})\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1024, "MiB": _MB, "GiB": 1024 * _MB, "TiB": 1024**2 * _MB}


class Tracer:
    """In-memory span recorder. Each span runs under its own job group, so
    the jobs and SQL executions it caused can be read back per span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "group": f"perfbench-{len(self.spans)}-{name}",
            "parent": parent["group"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["group"])
            else:
                self.sc._jsc.clearJobGroup()

    def find(self, name: str) -> dict:
        return next(s for s in reversed(self.spans) if s["name"] == name)

    def seconds(self, name: str) -> float:
        s = self.find(name)
        return s["end"] - s["start"]

    def groups(self, name: str) -> set[str]:
        """The span's own job group and those of all its descendants."""
        root = self.find(name)["group"]
        out = {root}
        for s in self.spans:  # parents precede children
            if s["parent"] in out:
                out.add(s["group"])
        return out

    def job_ids(self, name: str) -> list[int]:
        st = self.sc.statusTracker()
        return sorted(j for g in self.groups(name) for j in st.getJobIdsForGroup(g))


def job_counters(sc, job_ids) -> dict:
    """Task, shuffle, spill, CPU and GC totals over the stages of ``job_ids``
    (a stage shared by several jobs counts once; skipped stages add 0)."""
    store = sc._jsc.sc().statusStore()
    st = sc.statusTracker()
    stages: set[int] = set()
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    out = {"jobs": len(job_ids), "tasks": 0, "failed_tasks": 0, "shuffle_write_mb": 0.0,
           "spill_mb": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0, "input_mb": 0.0}
    for s in stages:
        try:
            sd = store.lastStageAttempt(s)
        except Exception:  # evicted from the store; counted as 0
            continue
        out["tasks"] += sd.numCompleteTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["input_mb"] += sd.inputBytes() / _MB
    return out


def _metric_value(text: str) -> float:
    """A SQL metric's display string as a number: sizes in bytes (the
    total, which is the first size shown), everything else as a plain count."""
    m = _SIZE.search(text)
    if m:
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    m = re.search(_NUM, text)
    return float(m.group(0).replace(",", "")) if m else 0.0


def sql_executions(spark, groups: set[str] | None, window: tuple[int, int]) -> list[dict]:
    """SQL executions in the ``[start, end)`` window of the store's list that
    started under any of ``groups`` (matched on the execution description,
    which the span's job group sets; ``None`` takes them all), each with its
    duration, job ids, plan text and metrics summed by name (accumulators
    shared by AQE's initial and final plan count once)."""
    store = spark._jsparkSession.sharedState().statusStore()
    start, end = window
    lst = store.executionsList(start, max(0, end - start))
    out = []
    for i in range(lst.size()):
        e = lst.apply(i)
        if groups is not None and e.description() not in groups:
            continue
        values = store.executionMetrics(e.executionId())
        metrics: dict[str, float] = {}
        seen: set[int] = set()
        plan_metrics = e.metrics()
        for k in range(plan_metrics.size()):
            pm = plan_metrics.apply(k)
            acc = pm.accumulatorId()
            v = values.get(acc)
            if acc in seen or not v.isDefined():
                continue
            seen.add(acc)
            metrics[pm.name()] = metrics.get(pm.name(), 0.0) + _metric_value(v.get())
        done = e.completionTime()
        job_keys = e.jobs().keySet().toSeq()
        out.append({
            "jobs": [job_keys.apply(j) for j in range(job_keys.size())],
            "id": e.executionId(),
            "ms": (done.get().getTime() - e.submissionTime()) if done.isDefined() else 0,
            "plan": e.physicalPlanDescription(),
            "metrics": metrics,
        })
    return out


def executions_count(spark) -> int:
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


def plan_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own plan, in ms
    (forces physical planning if the DataFrame has not been planned yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().endTimeMs() - p.get().startTimeMs()
    return total


def progress_medians(progress: list) -> dict:
    """Per-trigger medians (ms) and end-of-run state size from a streaming
    query's ``recentProgress``."""

    def med(key):
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return float(statistics.median(vals)) if vals else 0.0

    def state_med(key):
        vals = [p["stateOperators"][0].get(key, 0) for p in progress if p["stateOperators"]]
        return float(statistics.median(vals)) if vals else 0.0

    last = next((p["stateOperators"][0] for p in reversed(progress) if p["stateOperators"]), {})
    return {
        "trigger_ms_p50": med("triggerExecution"),
        "add_batch_ms_p50": med("addBatch"),
        "query_planning_ms_p50": med("queryPlanning"),
        "latest_offset_ms_p50": med("latestOffset"),
        "wal_commit_ms_p50": med("walCommit"),
        "commit_offsets_ms_p50": med("commitOffsets"),
        "state_update_ms_p50": state_med("allUpdatesTimeMs"),
        "state_commit_ms_p50": state_med("commitTimeMs"),
        "batches": len(progress),
        "state_rows": float(last.get("numRowsTotal", 0)),
        "state_mb": float(last.get("memoryUsedBytes", 0)) / _MB,
    }
