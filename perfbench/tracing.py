"""Spans and per-stage counters for the traced run.

Spans are kept in memory and written as one JSON file when the run
ends.  Stage counters come from Spark's live status store through py4j
(it exists with ``spark.ui.enabled=false``); each traced call runs under
its own ``setJobGroup`` so its jobs, and through them its stages, can
be attributed to it.
"""

from __future__ import annotations

import json
import statistics
import time

COUNTERS = (
    "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "busy_ratio", "driver_s",
)


class Tracer:
    """Records spans in every run (two clock reads each) and stage
    counters only while ``active``, which only a traced run sets."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[dict] = []
        self.calls: list[dict] = []
        self.collect_s = 0.0
        self.active = False
        self._stack: list[int] = []

    def span(self, name: str, op_id: str | None = None):
        return _Span(self, name, op_id)

    def call(self, slot: str, op_id: str, fn):
        """Run ``fn`` as one traced call; returns (result, wall seconds)."""
        if self.active:
            self.sc.setJobGroup(op_id, slot)
        try:
            with self.span(slot, op_id) as sp:
                result = fn()
        finally:
            if self.active:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        wall = sp.end - sp.start
        if self.active:
            t = time.perf_counter()
            stages = self._stages(op_id)
            self.collect_s += time.perf_counter() - t
            self.calls.append({"slot": slot, "op_id": op_id, "wall_s": wall,
                               "start": sp.start, "end": sp.end, "stages": stages,
                               **self._counters(stages, sp.start, sp.end, wall)})
        return result, wall

    def _stages(self, op_id: str) -> list[dict]:
        """Completed stages of the jobs in ``op_id``'s job group."""
        store = self.sc._jsc.sc().statusStore()
        job_ids = self.sc.statusTracker().getJobIdsForGroup(op_id)
        deadline = time.perf_counter() + 5.0
        # the listener bus is asynchronous: wait until every job of the
        # group has reached the store as finished
        while True:
            jobs = [store.job(j) for j in job_ids]
            if all(j.status().toString() != "RUNNING" for j in jobs) or time.perf_counter() > deadline:
                break
            time.sleep(0.02)
        stage_ids = sorted({int(j.stageIds().apply(i)) for j in jobs for i in range(j.stageIds().size())})
        task_status = getattr(store, "stageData$default$3")()
        quantiles = getattr(store, "stageData$default$5")()
        out = []
        for sid in stage_ids:
            attempts = store.stageData(sid, False, task_status, False, quantiles)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                if s.status().toString() != "COMPLETE":
                    continue  # skipped (reused shuffle output) or failed
                out.append({
                    "stage_id": sid,
                    "tasks": int(s.numTasks()),
                    "executor_run_s": s.executorRunTime() / 1e3,
                    "executor_cpu_s": s.executorCpuTime() / 1e9,
                    "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                    "shuffle_read_bytes": int(s.shuffleReadBytes()),
                    "spill_bytes": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
                    "start": s.submissionTime().get().getTime() / 1e3 if s.submissionTime().isDefined() else None,
                    "end": s.completionTime().get().getTime() / 1e3 if s.completionTime().isDefined() else None,
                })
        return out

    def _counters(self, stages, start: float, end: float, wall: float) -> dict:
        out = {k: sum(s[k] for s in stages) for k in COUNTERS[:6]}
        out["busy_ratio"] = out["executor_run_s"] / (wall * self.cores) if wall > 0 else 0.0
        # driver_s: the part of the call's wall that no stage covers
        ivs = sorted((max(s["start"], start), min(s["end"], end))
                     for s in stages if s["start"] is not None and s["end"] is not None)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out["driver_s"] = max(wall - covered, 0.0)
        return out

    def session_metrics(self, slots) -> dict:
        """session.<slot>.<counter>: the median over the slot's traced calls."""
        out = {}
        for slot in slots:
            calls = [c for c in self.calls if c["slot"] == slot]
            for k in COUNTERS:
                vals = [c[k] for c in calls]
                out[f"session.{slot}.{k}"] = statistics.median(vals) if vals else float("nan")
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "calls": self.calls, **extra}, f, indent=1, default=str)


class _Span:
    def __init__(self, tracer: Tracer, name: str, op_id: str | None):
        self.tracer, self.name, self.op_id = tracer, name, op_id

    def __enter__(self):
        tr = self.tracer
        self.idx = len(tr.spans)
        self.parent = tr._stack[-1] if tr._stack else None
        tr.spans.append({"id": self.idx, "name": self.name, "op_id": self.op_id,
                         "parent": self.parent, "start": None, "end": None})
        tr._stack.append(self.idx)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        tr = self.tracer
        tr._stack.pop()
        tr.spans[self.idx].update(start=self.start, end=self.end,
                                  error=exc[0].__name__ if exc[0] else None)
        return False
